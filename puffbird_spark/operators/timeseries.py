"""Time-series regularization: per-key resampling onto a fixed grid with
forward fill (last observation carried forward) — the hypertable
``time_bucket_gapfill + locf`` surface, composed from native DataFrame
ops.

Why a dedicated operator: windowed aggregations (``stream_tumbling``,
``hypertable_rollup``) only emit buckets that HAVE data; ML feature
pipelines and monitoring joins need a dense, regular grid where silent
periods carry the last known value. The shape:

1. **bucket** — ``date_trunc(step, ts)``, scan-local; the deterministic
   per-bucket observation is the LAST event by ``(ts, tiebreak...)``
   via a lexicographic struct-max (one keyed aggregation — no window,
   no sort of raw events).
2. **grid** — per-key ``sequence(min_bucket, max_bucket, step)`` from a
   second tiny keyed agg, exploded. Grid size is (span / step) per key
   — metadata-scale relative to the raw events it regularizes.
3. **fill** — one ``last(value, ignorenulls=True)`` running window per
   key over the grid. The only shuffles are keyed on the entity key;
   at 100 TB each key's grid is small (span/step rows) so the window
   never sees a single-task global sort — skew equals key skew, which
   AQE splits.

The first grid bucket always contains that key's first event, so
forward fill is total (no leading NULLs) when ``value_col`` is
non-NULL on events.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import RELEASE_DP, SNAP_SCALE

_STEP_INTERVAL = {
    "minute": "interval 1 minute",
    "hour": "interval 1 hour",
    "day": "interval 1 day",
}


def gap_fill(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    step: str = "hour",
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Resample ``df`` onto a dense per-key ``step`` grid spanning each
    key's [first, last] bucket: returns
    ``(*key_cols, bucket_ts, filled_value, is_observed)`` where
    ``filled_value`` is the last-in-bucket observation carried forward
    and ``is_observed`` marks buckets that had at least one event.

    ``tiebreak_cols`` pins which event is "last" inside a bucket when
    timestamps collide (lexicographic after ``ts_col``) — pass a unique
    id for full determinism.
    """
    if step not in _STEP_INTERVAL:
        raise ValueError(f"step must be one of {sorted(_STEP_INTERVAL)}")
    tb = tiebreak_cols or []
    bucket = F.date_trunc(step, F.col(ts_col))
    pick = F.max(
        F.struct(F.col(ts_col), *[F.col(c) for c in tb],
                 F.col(value_col).alias("__v"))
    )
    obs = (
        df.groupBy(*key_cols, bucket.alias("bucket_ts"))
        .agg(pick.getField("__v").alias("__obs_v"))
        .withColumn("__obs", F.lit(True))
    )
    # bounds derive from the (already aggregated, much smaller) bucket
    # table, not a second raw-event scan: date_trunc is monotone, so
    # min/max commute with it and the extremes of the observed buckets
    # ARE the truncated extremes of the raw timestamps
    bounds = obs.groupBy(*key_cols).agg(
        F.min("bucket_ts").alias("__b0"),
        F.max("bucket_ts").alias("__b1"),
    )
    grid = bounds.select(
        *key_cols,
        F.explode(
            F.expr(f"sequence(__b0, __b1, {_STEP_INTERVAL[step]})")
        ).alias("bucket_ts"),
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, [*key_cols, "bucket_ts"], "left")
        .select(
            *key_cols,
            "bucket_ts",
            F.last("__obs_v", ignorenulls=True).over(w)
            .alias("filled_value"),
            F.coalesce(F.col("__obs"), F.lit(False)).alias("is_observed"),
        )
    )


def cusum_alarms(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    target: float,
    slack: float = 0.0,
    threshold: float = 20.0,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """One-sided CUSUM drift detection per key — the standard
    data-quality monitor for a metric stream (did this source's quality
    score / length / error rate shift upward?): the classic recursion
    ``s_i = max(0, s_{i-1} + (x_i - target - slack))`` with an alarm
    whenever ``s_i > threshold``.

    The recursion LOOKS sequential, but equals
    ``s_i = c_i - min(c_1..c_i)`` where ``c`` is the running sum of
    deviations — so the whole operator is two per-key WINDOW functions
    (running sum, running min) over decimal-snapped deviations: exact,
    order-pinned by ``(ts, tiebreak...)``, engine-replayable, and never
    sequential on the driver. Returns per key:
    ``(key..., n_alarms, max_s, first_alarm_ts)`` (NULLs when no
    alarm).

    ``target``/``slack`` are the monitored baseline — literals here;
    production derives them from a trailing window or a reference
    period and passes them in.
    """
    from pyspark.sql import Window

    tb = tiebreak_cols or []
    dev = (F.col(value_col).cast("decimal(28,12)")
           - F.lit(target).cast("decimal(28,12)")
           - F.lit(slack).cast("decimal(28,12)"))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tb])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # two stages: a window over a window must be materialized between
    # (Spark rejects nested window expressions in one projection); both
    # windows share the same partitioning, so this is ONE exchange
    staged = df.select(
        *key_cols, F.col(ts_col).alias("__ts"),
        *[F.col(c_) for c_ in tb],
        F.sum(dev).over(w).alias("__c"))
    w2 = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__ts"), *[F.col(c_) for c_ in tb])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = (F.col("__c") - F.least(
        F.min("__c").over(w2), F.lit(0).cast("decimal(28,12)")))
    alarmed = staged.select(
        *key_cols, "__ts", s.cast("double").alias("__s"))
    return (
        alarmed.groupBy(*key_cols)
        .agg(
            F.sum((F.col("__s") > threshold).cast("long"))
            .alias("n_alarms"),
            F.round(F.max("__s"), 6).alias("max_s"),
            F.min(F.when(F.col("__s") > threshold, F.col("__ts")))
            .alias("first_alarm_ts"),
        )
    )


def interval_coverage(
    df: DataFrame,
    key_cols: list[str],
    start_col: str,
    end_col: str,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Union-of-intervals coverage per key — "how much wall-clock was
    this user/host/source actually active", with overlapping intervals
    counted ONCE (naive sum(end-start) double-counts; this is the
    classic sweep-line, reduced to keyed windows):

    1. order intervals by (start, end, tiebreak);
    2. an interval starts a NEW ISLAND iff its start exceeds the
       running max end of everything before it (one lagged prefix-max
       window);
    3. island id = running count of island-starts; each island's
       coverage is ``max(end) - min(start)`` (its intervals overlap or
       touch by construction).

    Two keyed windows sharing one exchange + two keyed aggs — never a
    driver-side sweep. Inputs are NUMERIC (pass epoch micros for
    timestamps: ``F.unix_micros`` — exact integers on both engines,
    unlike second-truncation). Returns
    ``(key..., n_intervals, n_islands, total_coverage)``.
    """
    from pyspark.sql import Window

    tb = tiebreak_cols or []
    order = [F.col(start_col), F.col(end_col)] + [F.col(c) for c in tb]
    w_prev = (
        Window.partitionBy(*key_cols).orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    staged = df.select(
        *key_cols, F.col(start_col).alias("__s"),
        F.col(end_col).alias("__e"), *[F.col(c) for c in tb],
        F.max(end_col).over(w_prev).alias("__prev_max"),
    )
    new_island = (
        F.col("__prev_max").isNull()
        | (F.col("__s") > F.col("__prev_max"))
    ).cast("long")
    w_run = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col("__s"), F.col("__e"), *[F.col(c) for c in tb])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = staged.select(
        *key_cols, "__s", "__e",
        F.sum(new_island).over(w_run).alias("__island"),
    )
    per_island = islands.groupBy(*key_cols, "__island").agg(
        F.count(F.lit(1)).alias("__n"),
        (F.max("__e") - F.min("__s")).alias("__len"),
    )
    return per_island.groupBy(*key_cols).agg(
        F.sum("__n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum("__len").cast("long").alias("total_coverage"),
    )


def ewma_smooth(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_cents: Column | str,
    window: int = 16,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Per-key exponential smoothing with EXACT arithmetic — the
    truncated EWMA filter: over the trailing ``window`` samples,
    ``y_t = sum_k c_k * x_{t-k}`` with dyadic weights ``c_k = 2^-(k+1)``
    (newest gets 1/2) and the OLDEST in-frame sample absorbing the tail
    (``c_{m-1} = 2^-(m-1)``, so weights always sum to 1) — the
    ``adjust=False`` recursion cut at ``window`` taps.

    Why this shape: the textbook infinite recursion is sequential per
    key and its floating-point result depends on history length; the
    truncated filter is ONE ordered window per key (collect_list over a
    bounded ROWS frame + a scan-local fold — no driver loop, no UDF),
    and with INTEGER inputs and power-of-two weights every term and
    every partial sum is exactly representable, so the result is
    bit-identical on any engine, any partitioning (the dedup-science
    float policy applied to smoothing). ``value_cents`` must be an
    integer-valued column (snap currency to cents first).
    """
    from pyspark.sql import Window

    tb = tiebreak_cols or []
    x = F.col(value_cents) if isinstance(value_cents, str) else value_cents
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tb])
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    arr = F.collect_list(x.cast("double")).over(w)
    n = F.size("__arr")
    # fold with explicit 1-based positions: i=1 is the OLDEST in frame
    weighted = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc + F.element_at(F.col("__arr"), i) * F.when(
            i == 1, F.pow(F.lit(0.5), (n - 1).cast("double"))
        ).otherwise(F.pow(F.lit(0.5), (n - i + 1).cast("double"))),
    )
    return (
        df.withColumn("__arr", arr)
        .withColumn("ewma_cents", weighted)
        .drop("__arr")
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_n: int = 20,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Trailing-window z-score anomaly detection — the monitoring
    staple next to CUSUM (:func:`cusum_alarms` finds sustained level
    shifts; this flags POINT outliers): each observation scores
    against the mean and sample standard deviation of its
    ``window_n`` PRECEDING observations (the current row excluded —
    an outlier must not dilute its own baseline), and
    ``|z| >= z_thresh`` flags. Rows without a full trailing window
    are unscored (no cold-start false alarms); zero-variance windows
    never flag (no division blow-up).

    Engine-portable numerics: the trailing sum and sum-of-squares
    accumulate as exact decimals (partitioning/order independent),
    the variance/sqrt/ratio then computes in doubles identically
    everywhere, and z rounds at 6 dp. ONE window per key — single
    exchange, the timeseries-family shape. Returns flagged rows:
    ``(key, ts, value, mean, std, zscore)``."""
    from pyspark.sql.window import Window

    if window_n < 2:
        raise ValueError("window_n must be >= 2")
    w = Window.partitionBy(key_col).orderBy(ts_col).rowsBetween(
        -window_n, -1)
    v_dec = F.col(value_col).cast("decimal(28,8)")
    n = F.count(v_dec).over(w)
    s = F.sum(v_dec).over(w).cast("double")
    ss = F.sum(v_dec * v_dec).over(w).cast("double")
    mean = s / n
    var = (ss - s * s / n) / (n - 1)
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    z = F.round((F.col(value_col) - mean) / std, RELEASE_DP)
    scored = df.select(
        F.col(key_col).alias("key"), F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
        n.alias("__n"), F.round(mean, RELEASE_DP).alias("mean"),
        F.round(std, RELEASE_DP).alias("std"), z.alias("zscore"),
    )
    return (
        scored.filter(
            (F.col("__n") == window_n)
            & (F.col("std") > 0)
            & (F.abs(F.col("zscore")) >= z_thresh))
        .drop("__n")
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """OHLC (open-high-low-close) bars per key and time bucket — the
    candlestick rollup every market/metrics pipeline ships. Open and
    close are the true FIRST/LAST observations by timestamp, taken
    with the struct-max trick (:func:`gap_fill`'s last-in-bucket
    convention — max/min over ``struct(ts, value)`` orders on ts
    first, so no per-bucket sort and no window): ONE keyed
    aggregation, single exchange. Returns
    ``(key, bucket_start, open, high, low, close, n_obs)``."""
    b = F.window(F.col(ts_col), bucket).getField("start")
    first_s = F.min(F.struct(F.col(ts_col), F.col(value_col)))
    last_s = F.max(F.struct(F.col(ts_col), F.col(value_col)))
    return (
        df.groupBy(
            F.col(key_col).alias("key"), b.alias("bucket_start"))
        .agg(
            first_s.getField(value_col).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            last_s.getField(value_col).alias("close"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    bucket: str = "1 hour",
) -> DataFrame:
    """Time-weighted average per key and bucket (the TimescaleDB
    ``time_weight('LOCF')`` semantics): each observation's value
    holds until the NEXT observation of the same key, and the
    average weights each value by its holding time CLIPPED to the
    bucket — so irregular sampling cannot bias the mean toward
    burst periods (the failure mode of the plain AVG). The last
    observation of a key extends to the bucket end.

    Exact arithmetic: weights are epoch-microsecond integer
    differences, the weighted sum accumulates value x micros as
    decimal, and ONE division rounds at 6 dp. One lead window +
    one keyed agg — two exchanges total. Returns
    ``(key, bucket_start, twa, n_obs)``."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(ts_col)
    nxt = F.lead(ts_col).over(w)
    win = F.window(F.col(ts_col), bucket)
    b_start, b_end = win.getField("start"), win.getField("end")
    hold_end = F.least(F.coalesce(nxt, b_end), b_end)
    # NTZ columns refuse unix_micros directly (Spark 4); the pinned-UTC
    # session makes the cast an identity on the wall-clock value
    micros = (
        F.unix_micros(hold_end.cast("timestamp"))
        - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ).cast("long")
    # widths chosen so the product stays under BOTH engines' 38-digit
    # decimal cap: value(18,6) x within-bucket micros(12,0) -> (30,6)
    contrib = (
        F.col(value_col).cast("decimal(18,6)")
        * micros.cast("decimal(12,0)")
    )
    return (
        df.select(
            F.col(key_col).alias("key"), b_start.alias("bucket_start"),
            micros.alias("__w"), contrib.alias("__c"))
        .filter(F.col("__w") > 0)
        .groupBy("key", "bucket_start")
        .agg(
            F.round(
                F.sum("__c").cast("double")
                / F.sum("__w").cast("double"), RELEASE_DP).alias("twa"),
            F.count(F.lit(1)).cast("long").alias("n_obs"),
        )
    )


def theil_sen(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen robust trend estimator per key (Theil 1950, Sen 1968):
    the slope is the MEDIAN of all pairwise slopes

        m = median{ (y_j − y_i) / (x_j − x_i) : x_i < x_j }

    and the intercept is ``median(y − m·x)`` — up to ~29% of the points
    can be arbitrary outliers before the estimate moves, which is the
    reason it replaces OLS (`agg_group_ols`) on dirty telemetry.

    Intended for per-key series that are already rolled up to a bounded
    grain (daily/hourly buckets — the `ohlc_bars`/`time_weighted_avg`
    output shape): the pair join is keyed on ``key_cols`` so each key's
    O(d²) slope set stays inside one shuffle partition group, and d is
    the number of BUCKETS (365 days → 66k pairs), never raw-event
    cardinality. Duplicate x within a key contributes no pair (slope
    undefined). Slopes are identical doubles on any engine (one
    subtraction, one division); the median is the exact interpolated
    percentile (`F.percentile` == ``quantile_cont``), and the intercept
    reuses the 6-dp-rounded slope so both stages replay exactly. Returns
    ``(*key_cols, n_points, n_pairs, slope, intercept)``; keys with
    fewer than two distinct x values are omitted."""
    keys = list(key_cols)

    def kjoin(left, right):
        # keys=[] is the GLOBAL single-series call (r11 probe):
        # pyspark's join(on=[]) raises an opaque IndexError; the pair
        # set is the same bounded d² either way, so cross-join
        # explicitly (est/resid right sides are key-count-sized)
        return left.join(right, keys) if keys else left.crossJoin(right)

    pts = df.select(
        *keys,
        F.col(x_col).cast("double").alias("__x"),
        F.col(y_col).cast("double").alias("__y"),
    ).filter(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    a = pts.select(*keys, F.col("__x").alias("__x1"),
                   F.col("__y").alias("__y1"))
    b = pts.select(*keys, F.col("__x").alias("__x2"),
                   F.col("__y").alias("__y2"))
    slopes = (
        kjoin(a, b)
        .filter(F.col("__x1") < F.col("__x2"))
        .select(*keys, ((F.col("__y2") - F.col("__y1"))
                        / (F.col("__x2") - F.col("__x1"))).alias("__m"))
    )
    est = slopes.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.percentile("__m", F.lit(0.5)), RELEASE_DP).alias("slope"),
    )
    n_pts = pts.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    resid = (
        kjoin(pts, est)
        .select(*keys, "n_pairs", "slope",
                (F.col("__y") - F.col("slope") * F.col("__x"))
                .alias("__b"))
        .groupBy(*keys)
        .agg(F.max("n_pairs").alias("n_pairs"),
             F.max("slope").alias("slope"),
             F.round(F.percentile("__b", F.lit(0.5)), RELEASE_DP)
             .alias("intercept"))
    )
    return (
        kjoin(n_pts, resid)
        .select(*keys, "n_points", "n_pairs", "slope", "intercept")
    )


def seasonal_decompose(
    df: DataFrame,
    key_cols: list[str],
    x_col: str,
    y_col: str,
    period: int = 7,
    trend_window: int = 7,
) -> DataFrame:
    """Classical additive seasonal decomposition per key
    (trend + seasonal + residual — the moving-average method of
    Macaulay 1931, the `statsmodels seasonal_decompose` default):

    - **trend**: centered moving average over ``trend_window`` periods
      (emitted only where the window is FULL — edges have no honest
      trend);
    - **seasonal**: the per-phase (``x mod period``) mean of the
      detrended series, one index per phase — not centered, so the
      phase means absorb any constant offset (documented deviation:
      centering would add nothing to drift/anomaly use and one more
      float fold);
    - **residual**: ``y − trend − seasonal`` from the ROUNDED
      components, so every emitted number is reproducible bit-for-bit.

    Exactness: ``y`` snaps to 9-dp decimal on entry, the trend window
    SUMS decimals (associative — frame order cannot matter) and divides
    once; detrended values snap to 9-dp decimal before the phase-mean
    sum. Expects ONE row per (key, x) at a bucketed grain with dense
    integer ``x_col`` (run `gap_fill` first if the series has holes —
    a ROWS frame on a gapped series is not calendar-centered).
    Shuffles once per key for the window, once for the phase means
    (phase frame is keys × period, broadcast back). Returns
    ``(*key_cols, x, phase, y, trend, seasonal, residual)`` rows where
    the trend window is full."""
    if trend_window % 2 == 0 or trend_window < 3:
        raise ValueError(
            f"trend_window must be odd and >= 3, got {trend_window}")
    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    from pyspark.sql.window import Window

    keys = list(key_cols)
    half = trend_window // 2
    ydec = F.round(F.col(y_col).cast("double"), 9).cast("decimal(28,9)")
    base = df.select(
        *keys, F.col(x_col).cast("long").alias("x"), ydec.alias("__yd"),
    ).filter(F.col("x").isNotNull() & F.col("__yd").isNotNull())
    w = Window.partitionBy(*keys).orderBy("x").rowsBetween(-half, half)
    trended = base.select(
        *keys, "x", "__yd",
        (F.col("x") % period).cast("int").alias("phase"),
        F.when(
            F.count(F.lit(1)).over(w) == trend_window,
            F.sum("__yd").over(w).cast("double") / trend_window,
        ).alias("__trend"),
    ).filter(F.col("__trend").isNotNull())
    det = trended.withColumn(
        "__det",
        F.round(F.col("__yd").cast("double") - F.col("__trend"), 9)
        .cast("decimal(28,9)"))
    seas = det.groupBy(*keys, "phase").agg(
        (F.sum("__det").cast("double") / F.count(F.lit(1)))
        .alias("__seas"))
    return (
        det.join(F.broadcast(seas), keys + ["phase"])
        .select(
            *keys, "x", "phase",
            F.round(F.col("__yd").cast("double"), RELEASE_DP).alias("y"),
            F.round("__trend", RELEASE_DP).alias("trend"),
            F.round("__seas", RELEASE_DP).alias("seasonal"),
            F.round(
                F.round(F.col("__yd").cast("double"), RELEASE_DP)
                - F.round("__trend", RELEASE_DP)
                - F.round("__seas", RELEASE_DP),
                RELEASE_DP).alias("residual"),
        )
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    observed_col: str,
) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958) — the
    right-censoring-aware answer to "how long until churn/failure?"
    (a naive mean of durations is biased by every subject still alive
    at the horizon)::

        S(t) = Π_{tᵢ <= t} (1 − dᵢ / nᵢ)

    with dᵢ the observed events at time tᵢ and nᵢ the at-risk count
    (everyone with duration >= tᵢ — censored subjects leave the risk
    set but contribute no factor). All counts are integers (one
    grouped count to the distinct-durations grain, not subjects
    grain); the product replays order-free as ``exp(Σ ln(1 − dᵢ/nᵢ))``
    with 9-dp decimal term snaps. Returns one row per distinct EVENT
    time: ``(t, n_at_risk, n_events, n_censored, survival)``; a time
    where every at-risk subject dies yields survival 0 exactly (ln
    guard).

    Scale shape (round 9 — the two global RANGE-frame windows were
    single-task funnels when duration cardinality is data-sized, e.g.
    microsecond-grain durations): every cumulative quantity is now a
    two-phase prefix sum
    (:func:`~puffbird_spark.operators.splits.grouped_prefix_sum` —
    balanced range exchanges, broadcast slice offsets). The suffix sum
    (the at-risk count) is ``total − prefix + current``, the dead-flag
    prefix MAX is a prefix SUM of the 0/1 flag tested > 0, and the ln
    term sum is exact decimal addition — all value-identical to the
    window formulation because every summed term is an integer or an
    exact decimal. The subject total is one bounded driver scalar."""
    base = df.select(
        F.col(duration_col).cast("long").alias("__t"),
        F.col(observed_col).cast("boolean").alias("__obs"),
    ).filter(F.col("__t").isNotNull() & F.col("__obs").isNotNull())
    per_t = base.groupBy("__t").agg(
        F.sum(F.col("__obs").cast("int")).alias("__d"),
        F.sum((~F.col("__obs")).cast("int")).alias("__c"),
        F.count(F.lit(1)).alias("__n"))

    from .splits import grouped_prefix_sum

    total_n = per_t.agg(F.sum("__n").alias("n")).collect()[0]["n"] or 0
    cum_n = grouped_prefix_sum(per_t, [], ["__t"], F.col("__n"), "__cumn")
    # at-risk = everyone with duration >= t: total − inclusive-prefix + n
    risk = cum_n.withColumn(
        "__risk", F.lit(int(total_n)) - F.col("__cumn") + F.col("__n"))
    # dead-certain guard: 1 - d/n == 0 -> survival is exactly 0 from
    # here on; NULL ln term would poison the cumulative sum instead
    term = F.when(
        F.col("__d") < F.col("__risk"),
        F.round(F.log(
            1.0 - F.col("__d").cast("double") / F.col("__risk")), 9)
        .cast("decimal(28,9)"),
    ).otherwise(F.lit(None).cast("decimal(28,9)"))
    flagged = risk.withColumn("__term", term).withColumn(
        "__df", (F.col("__d") >= F.col("__risk")).cast("int"))
    flagged = grouped_prefix_sum(
        flagged, [], ["__t"], F.col("__df"), "__deadn")
    curve = (
        grouped_prefix_sum(
            flagged, [], ["__t"], F.col("__term"), "__lnsum")
        .withColumn("__dead", (F.col("__deadn") > 0).cast("int"))
    )
    return (
        curve.filter(F.col("__d") > 0)
        .select(
            F.col("__t").alias("t"),
            F.col("__risk").cast("long").alias("n_at_risk"),
            F.col("__d").cast("long").alias("n_events"),
            F.col("__c").cast("long").alias("n_censored"),
            F.when(F.col("__dead") == 1, F.lit(0.0)).otherwise(
                F.round(F.exp(F.col("__lnsum").cast("double")), RELEASE_DP))
            .alias("survival"),
        )
        .orderBy("t")
    )


def holt_linear(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Holt's linear-trend double exponential smoothing per key, with
    the ENGINE-PORTABLE float policy: smoothing constants are the
    dyadic pair alpha=1/2, beta=1/4, and the recursion

        l_t = 0.5*x_t + 0.5*(l_{t-1} + b_{t-1})
        b_t = 0.25*(l_t - l_{t-1}) + 0.75*b_{t-1}

    is evaluated with EXACTLY this expression shape (init l_1 = x_1,
    b_1 = 0), so an oracle spelling the same operations — e.g. a
    recursive SQL CTE — reproduces every intermediate bit-for-bit
    (halving and quartering are exact; the remaining ops are the same
    IEEE sequence on any engine). Inputs should be exact-decimal
    doubles (snap money to 2 dp first).

    Shape: the recursion is inherently sequential PER KEY, so it runs
    as one ``applyInPandas`` over key groups — each series ships once,
    the state walk is a tight Python loop over the sorted group, and
    cross-key parallelism is Spark's. Emits level, trend, and the
    one-step-ahead forecast (level + trend) per observation.
    """
    import pandas as pd

    out_schema = ", ".join(
        [f"`{c}` string" for c in key_cols]
        + [f"`{order_col}` long", "x double", "level double",
           "trend double", "forecast_next double"]
    )

    def _walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        xs = pdf[value_col].to_numpy(dtype="float64")
        levels = []
        trends = []
        l_prev = 0.0
        b_prev = 0.0
        for i, x in enumerate(xs):
            if i == 0:
                l_cur, b_cur = float(x), 0.0
            else:
                l_cur = 0.5 * float(x) + 0.5 * (l_prev + b_prev)
                b_cur = 0.25 * (l_cur - l_prev) + 0.75 * b_prev
            levels.append(l_cur)
            trends.append(b_cur)
            l_prev, b_prev = l_cur, b_cur
        res = pd.DataFrame({
            **{c: pdf[c].astype(str) for c in key_cols},
            order_col: pdf[order_col].astype("int64"),
            "x": xs,
            "level": levels,
            "trend": trends,
            "forecast_next": [lv + tr for lv, tr in zip(levels, trends)],
        })
        return res

    src = df.select(
        *[F.col(c).cast("string").alias(c) for c in key_cols],
        F.col(order_col).cast("long").alias(order_col),
        F.col(value_col).cast("double").alias(value_col),
    )
    return src.groupBy(*key_cols).applyInPandas(_walk, out_schema)


#: SAX breakpoints for alphabet size 4 — the N(0,1) quartiles
#: (Lin/Keogh 2003, Table 3). Fixed literals so every engine compares
#: z-scores against bit-identical constants.
SAX_BREAKPOINTS_4 = (-0.6745, 0.0, 0.6745)
SAX_ALPHABET = "abcd"


def sax_symbolize(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    value_col: str,
    n_segments: int = 4,
) -> DataFrame:
    """SAX symbolization (Lin & Keogh 2003): per key, the ordered value
    series is z-normalized, piecewise-aggregate-approximated into
    ``n_segments`` means, and each mean quantized to one of 4 symbols
    at the standard-normal quartile breakpoints — the string that makes
    motif mining, similarity grouping, and anomaly lookup over raw
    series a plain string groupBy.

    Determinism contract (the reason this hash-matches a SQL oracle):
    every floating sum is ORDER-FREE — values pass through a
    ``decimal(18,6)`` cast, so n/sum/sum-of-squares are exact decimals
    whatever the partial-agg order; mean/var derive from those in one
    double expression; z-scores and PAA means round at 6 dp
    before the breakpoint compares, so boundary values quantize
    identically on every engine. Segment membership is ``floor(rank *
    n_segments / n)`` over the ``order_cols`` rank — ragged series get
    near-equal segments, no padding. Zero-variance keys read std=1
    (all symbols mid-band) rather than dividing by zero.

    Scale: one shuffle — the window and both groupBys key on
    ``key_cols``, so AQE reuses the exchange; per-key state is window
    aggregates, never a collected list."""
    wo = Window.partitionBy(*key_cols).orderBy(*order_cols)
    wk = Window.partitionBy(*key_cols)
    vdec = F.col(value_col).cast("decimal(18,6)")
    ranked = df.select(
        *key_cols,
        vdec.alias("__vd"),
        (F.row_number().over(wo) - 1).alias("__rk"),
    ).select(
        *key_cols, "__vd", "__rk",
        F.count(F.lit(1)).over(wk).cast("long").alias("n_points"),
        F.sum("__vd").over(wk).alias("__sumv"),
        F.sum(F.col("__vd") * F.col("__vd")).over(wk).alias("__sumsq"),
    )
    mean = F.col("__sumv").cast("double") / F.col("n_points")
    var = F.greatest(
        F.col("__sumsq").cast("double") / F.col("n_points") - mean * mean,
        F.lit(0.0),
    )
    std_raw = F.sqrt(var)
    std = F.when(std_raw > 0, std_raw).otherwise(F.lit(1.0))
    segd = ranked.select(
        *key_cols, "n_points",
        F.floor(
            F.col("__rk") * F.lit(int(n_segments)) / F.col("n_points")
        ).cast("int").alias("segment"),
        F.round(
            (F.col("__vd").cast("double") - mean) / std, RELEASE_DP
        ).alias("__z"),
    )
    # z is already rounded at 6 dp, so this decimal cast is exact
    # and the segment sum stays order-free
    paa = segd.groupBy(*key_cols, "n_points", "segment").agg(
        F.round(
            F.sum(F.col("__z").cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1)),
            RELEASE_DP,
        ).alias("paa_mean")
    )
    b1, b2, b3 = SAX_BREAKPOINTS_4
    sym = (
        F.when(F.col("paa_mean") < b1, F.lit(SAX_ALPHABET[0]))
        .when(F.col("paa_mean") < b2, F.lit(SAX_ALPHABET[1]))
        .when(F.col("paa_mean") < b3, F.lit(SAX_ALPHABET[2]))
        .otherwise(F.lit(SAX_ALPHABET[3]))
    )
    with_sym = paa.select(*key_cols, "n_points", "segment", sym.alias("__c"))
    return with_sym.groupBy(*key_cols, "n_points").agg(
        F.concat_ws(
            "", F.array_sort(
                F.collect_list(F.struct("segment", "__c"))
            ).getField("__c")
        ).alias("sax")
    )


def ewma_time_decay(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    halflife_s: float,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Irregular-interval exponential smoothing — the time-decay EWMA
    (pandas ``ewm(times=...)``): each observation's weight decays by
    wall-clock age, ``s(t_i) = sum_{j<=i} v_j 2^{-(t_i-t_j)/h}``,
    normalized by the same-decayed weight sum. The fixed-step
    :func:`ewma_smooth` breaks on irregular events; this is what a
    sensor/metrics stream needs.

    The recursion is sequential — the SCALE trick is the log-space
    rebase: weight terms as ``g_j = 2^{(t_j - tmax)/h}`` (``tmax`` =
    the KEY's last timestamp, so ``g <= 1`` and nothing can overflow,
    unlike a first-timestamp rebase whose exponent grows with the
    span), then ``ewma_i = prefix_sum(v_j g_j) / prefix_sum(g_j)`` —
    the common rebase factor cancels in the ratio. TWO per-key
    running sums — O(n), one exchange, no recursion, no UDF. Each
    term snaps to a 12-dp decimal before the window sum (window
    partial sums are NOT guaranteed sequential — DuckDB segment-trees
    them — so only exact addition is portable); terms older than ~40
    halflives relative to ``tmax`` snap to zero, which IS their decay
    weight at this precision, and a row whose OWN weight snaps to
    zero reads NULL (beyond the decay horizon — an explicit non-answer,
    never a silently wrong one)."""
    from pyspark.sql import Window

    tb = tiebreak_cols or []
    wk = Window.partitionBy(*key_cols)
    wo = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col), *[F.col(c) for c in tb])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    t = F.unix_micros(F.col(ts_col).cast("timestamp")).cast("double")
    tmax = F.max(t).over(wk)
    dt_h = (t - tmax) / F.lit(float(halflife_s) * 1e6)
    growth = F.round(F.pow(F.lit(2.0), dt_h), 12)
    v = F.col(value_col).cast("double")
    num_term = F.round(v * growth, 12).cast("decimal(38,12)")
    den_term = growth.cast("decimal(38,12)")
    num = F.sum(num_term).over(wo).cast("double")
    den = F.sum(den_term).over(wo).cast("double")
    return df.select(
        *key_cols,
        F.col(ts_col),
        *[F.col(c) for c in tb],
        v.alias("value"),
        F.when(growth > 0, F.round(num / den, RELEASE_DP)).alias("ewma"),
    )


def autocorrelation(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    lags: tuple[int, ...] = (1, 2, 3),
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity lag-k autocorrelation (the sample ACF, Box & Jenkins
    form with the FULL-series denominator) — the seasonality /
    persistence profiler a feature pipeline runs before lag-feature
    selection:

        r_k = Σ_t (x_t - x̄)(x_{t+k} - x̄) / Σ_t (x_t - x̄)²

    over each entity's observations ordered by ``ts_col`` (plus
    ``order_tiebreak`` — REQUIRED-in-spirit like trajectory_stats: tied
    timestamps otherwise make the lag pairing nondeterministic; pass a
    unique column). Adjacent-in-SEQUENCE pairing: gaps in wall-clock
    time pair by position, the standard ACF over an observation series.

    Determinism (the krippendorff per-term ladder): inputs snap to
    ``decimal(20,6)``; the per-entity mean divides two EXACT
    aggregates (decimal sum / long count — one IEEE double, identical
    on identical inputs across engines); every centered product rounds
    to 9 dp and pools as decimal(38,9) (order-free exact sums); the
    final ratio releases at 6 dp. A constant series has zero
    denominator and reads NULL (undefined, not 0). NULL values AND
    NULL timestamps are excluded BEFORE sequencing (pairwise-complete
    positions; a NULL timestamp has no place in a time order, and the
    engines disagree on where to put one — NULLS FIRST vs LAST).

    Scale shape: ONE keyed window (partitioned by entity) computing
    every lag's ``lead`` in a single pass, one keyed stats aggregate,
    one co-partitioned join back, one keyed final fold — nothing
    global, nothing driver-side; skew equals entity skew.

    Returns ``(entity_col, lag, n, n_pairs, acf)`` — ``n`` the
    entity's observation count, ``n_pairs = max(n - lag, 0)``."""
    ks = sorted(set(int(k) for k in lags))
    if not ks or ks[0] < 1:
        raise ValueError(f"lags must be positive ints, got {lags!r}")
    decv = f"decimal(20,{SNAP_SCALE})"
    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("autocorrelation")
    # a NULL timestamp has no position in the sequence — and the two
    # engines would give it OPPOSITE ones (Spark ASC = NULLS FIRST,
    # DuckDB = NULLS LAST; r13 self-review #2), shifting every lag
    # pairing after it differently per engine
    from . import drop_nan_rows

    base = drop_nan_rows(df, value_col).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(value_col).cast(decv).alias("__x"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    w = Window.partitionBy("__e").orderBy(
        *[F.col(f"__o{i}") for i in range(len(order))])
    led = base.select(
        "__e", "__x",
        *[F.lead("__x", k).over(w).alias(f"__x{k}") for k in ks])
    stats = led.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__x").alias("__s"))
    xbar = F.col("__s").cast("double") / F.col("__n")
    j = led.join(stats, "__e")
    dev = F.col("__x").cast("double") - xbar
    d9 = "decimal(38,9)"
    den_term = F.round(dev * dev, 9).cast(d9)
    aggs = [
        F.max("__n").alias("n"),
        F.sum(den_term).alias("__den"),
    ]
    for k in ks:
        devk = F.col(f"__x{k}").cast("double") - xbar
        aggs.append(F.sum(
            F.when(F.col(f"__x{k}").isNotNull(),
                   F.round(dev * devk, 9).cast(d9))).alias(f"__num{k}"))
        aggs.append(F.sum(
            F.when(F.col(f"__x{k}").isNotNull(), 1).otherwise(0))
            .cast("long").alias(f"__m{k}"))
    per_e = j.groupBy("__e").agg(*aggs)
    lag_rows = [
        F.struct(
            F.lit(k).cast("int").alias("lag"),
            F.col(f"__m{k}").alias("n_pairs"),
            F.when(
                (F.col("__den").cast("double") > 0)
                & (F.col(f"__m{k}") > 0),
                F.round(F.col(f"__num{k}").cast("double")
                        / F.col("__den").cast("double"), RELEASE_DP))
            .alias("acf"))
        for k in ks
    ]
    return per_e.select(
        F.col("__e").alias(entity_col), F.col("n"),
        F.explode(F.array(*lag_rows)).alias("__r")
    ).select(entity_col, "__r.lag", "n", "__r.n_pairs", "__r.acf")


def partial_autocorrelation(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity partial autocorrelation at lags 1..3 — the AR-order
    selector next to :func:`autocorrelation`'s raw persistence profile
    (Box & Jenkins: the PACF cuts off at the true AR order; the ACF
    only tails). The unrolled Durbin-Levinson recursion:

        φ11 = r1
        φ22 = (r2 - r1²) / (1 - r1²)
        φ21 = r1·(1 - φ22)
        φ33 = (r3 - φ21·r2 - φ22·r1) / (1 - φ21·r1 - φ22·r2)

    computed from the RELEASED (6-dp-rounded) ACF values — both
    engines then fold identical doubles, so the closed form is
    engine-replayable without another precision ladder. Degenerate
    inputs release NULL: a constant series (NULL ACF), a too-short
    series (missing lags), or a unit-root boundary (any denominator
    exactly 0 at the release grain).

    Scale shape: exactly :func:`autocorrelation`'s (one keyed window +
    two keyed aggregations) plus one keyed pivot fold — nothing new
    shuffles. Returns ``(entity_col, n, pacf1, pacf2, pacf3)``."""
    acf = autocorrelation(
        df, entity_col, ts_col, value_col, lags=(1, 2, 3),
        order_tiebreak=order_tiebreak)
    per = acf.groupBy(entity_col).agg(
        F.max("n").alias("n"),
        *[F.max(F.when(F.col("lag") == k, F.col("acf")))
          .alias(f"__r{k}") for k in (1, 2, 3)])
    r1, r2, r3 = F.col("__r1"), F.col("__r2"), F.col("__r3")
    den2 = 1.0 - r1 * r1
    p22 = (r2 - r1 * r1) / den2
    p21 = r1 * (1.0 - p22)
    den3 = 1.0 - p21 * r1 - p22 * r2
    p33 = (r3 - p21 * r2 - p22 * r1) / den3
    return per.select(
        entity_col, "n",
        F.round(r1, RELEASE_DP).alias("pacf1"),
        F.when(den2 != 0, F.round(p22, RELEASE_DP)).alias("pacf2"),
        F.when((den2 != 0) & (den3 != 0), F.round(p33, RELEASE_DP))
        .alias("pacf3"))


def changepoint_binary(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
    min_segment: int = 2,
) -> DataFrame:
    """Single-changepoint detection per entity by binary segmentation
    (Scott & Knott 1974; the first split of the classic binary-seg /
    PELT family) — WHERE did the level shift, completing
    :func:`cusum` (which answers "did it drift" as a running
    excursion): the split t* maximizing the between-segment sum of
    squares

        gain(t) = S_L²/t + S_R²/(n−t) − S²/n

    over admissible splits (both segments at least ``min_segment``
    observations). Equivalent to minimizing total within-segment SSE
    for one split; gain 0 means a flat series.

    Ordering follows the :func:`autocorrelation` contract: per-entity
    (ts, order_tiebreak) sequence, NULL values and NULL timestamps
    excluded BEFORE sequencing, missing tiebreak warns.

    Determinism: values snap to decimal(20,6); prefix sums are
    exact decimal window folds; each candidate's gain is one double
    expression over exact sums, snapped at 9 dp BEFORE the argmax so
    the (gain desc, t asc) winner is engine-identical; release at
    6 dp. Entities with n < 2·min_segment release NULL split/gain
    (no admissible cut).

    Scale shape: one keyed sequence window (row number + running
    sum), one keyed total join, one keyed argmax window — all
    partitioned by entity, nothing global. Returns one row per
    entity: ``(entity_col, n, split_t, gain, mean_left,
    mean_right)`` — ``split_t`` is the LAST position of the left
    segment (1-based)."""
    from pyspark.sql.window import Window

    if int(min_segment) < 1:
        raise ValueError(
            f"min_segment must be >= 1, got {min_segment}")
    decv = f"decimal(20,{SNAP_SCALE})"
    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("changepoint_binary")
    from . import drop_nan_rows

    base = drop_nan_rows(df, value_col).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(value_col).cast(decv).alias("__x"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    ocols = [F.col(f"__o{i}") for i in range(len(order))]
    wseq = Window.partitionBy("__e").orderBy(*ocols)
    seq = base.select(
        "__e", "__x",
        F.row_number().over(wseq).alias("__t"),
        F.sum("__x").over(
            wseq.rowsBetween(Window.unboundedPreceding, 0))
        .alias("__sl"))
    tot = seq.groupBy("__e").agg(
        F.max("__t").cast("long").alias("__n"),
        F.sum("__x").alias("__s"))
    j = seq.join(tot, "__e")
    ms = int(min_segment)
    t = F.col("__t").cast("double")
    n = F.col("__n").cast("double")
    sl = F.col("__sl").cast("double")
    s = F.col("__s").cast("double")
    sr = s - sl
    gain = F.round(
        sl * sl / t + sr * sr / (n - t) - s * s / n, 9)
    cand = j.filter(
        (F.col("__t") >= ms) & (F.col("__n") - F.col("__t") >= ms)
    ).select(
        "__e", "__t", "__n", "__sl", "__s", gain.alias("__g"))
    wbest = Window.partitionBy("__e").orderBy(
        F.desc("__g"), F.asc("__t"))
    best = (cand.withColumn("__rk", F.row_number().over(wbest))
            .filter(F.col("__rk") == 1))
    out = best.select(
        F.col("__e").alias(entity_col),
        F.col("__n").cast("long").alias("n"),
        F.col("__t").cast("long").alias("split_t"),
        F.round(F.col("__g"), RELEASE_DP).alias("gain"),
        F.round(F.col("__sl").cast("double") / F.col("__t"), RELEASE_DP)
        .alias("mean_left"),
        F.round((F.col("__s") - F.col("__sl")).cast("double")
                / (F.col("__n") - F.col("__t")), RELEASE_DP)
        .alias("mean_right"))
    # entities too short for any admissible split still release a row
    short = tot.filter(F.col("__n") < 2 * ms).select(
        F.col("__e").alias(entity_col),
        F.col("__n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("split_t"),
        F.lit(None).cast("double").alias("gain"),
        F.lit(None).cast("double").alias("mean_left"),
        F.lit(None).cast("double").alias("mean_right"))
    return out.unionByName(short)


def ljung_box(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    h: int = 3,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Ljung-Box portmanteau statistic (Ljung & Box 1978)
    — the "is this series white noise?" test over the first ``h``
    autocorrelations, the standard residual-whiteness check after
    fitting (and the cheap is-there-any-structure-at-all screen
    before bothering):

        Q = n(n+2) · Σ_{k=1..h} r_k² / (n−k)

    Under the null (i.i.d. series) Q ~ χ²_h; large Q means some lag
    carries real correlation. Released Q only — the χ² CDF is the
    caller's table lookup (the ``chi_square_independence``
    convention: no transcendental CDF enters the engine contract).

    Computed from the RELEASED (6-dp-rounded) ACF values — the
    :func:`partial_autocorrelation` discipline: both engines fold
    identical doubles, no extra precision ladder. Per-lag terms snap
    to 12-dp decimal before the cross-lag sum (order-free). NULL Q
    when ANY of lags 1..h is unusable (constant series → NULL ACF;
    series with n ≤ h → missing pairs): a partial portmanteau sum is
    not the h-lag statistic.

    Scale shape: exactly :func:`autocorrelation`'s (one keyed window
    + two keyed aggregations) plus one keyed fold — nothing new
    shuffles. Returns ``(entity_col, n, q)``."""
    if int(h) < 1:
        raise ValueError(f"h must be >= 1, got {h}")
    acf = autocorrelation(
        df, entity_col, ts_col, value_col,
        lags=tuple(range(1, int(h) + 1)),
        order_tiebreak=order_tiebreak)
    valid = F.col("acf").isNotNull() & (F.col("n") - F.col("lag") > 0)
    term = F.round(
        F.col("acf") * F.col("acf")
        / (F.col("n") - F.col("lag")).cast("double"), 12
    ).cast("decimal(38,12)")
    per = acf.groupBy(entity_col).agg(
        F.max("n").alias("n"),
        F.sum(F.when(valid, 1).otherwise(0)).alias("__nvalid"),
        F.sum(F.when(valid, term)).alias("__s"))
    nd = F.col("n").cast("double")
    return per.select(
        entity_col, "n",
        F.when(
            F.col("__nvalid") == int(h),
            F.round(nd * (nd + 2.0) * F.col("__s").cast("double"), RELEASE_DP)
        ).alias("q"))


def granger_lag1(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    cause_col: str,
    effect_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity lag-1 Granger causality F-test (Granger 1969) — does
    the history of ``cause_col`` improve the one-step prediction of
    ``effect_col`` beyond the effect's own history? The feature-screen
    a forecasting pipeline runs before adding an exogenous regressor.
    Closed-form OLS over exact sums, no iterative fit:

        restricted:    y_t = a + b·y_{t−1}
        unrestricted:  y_t = a + b·y_{t−1} + c·x_{t−1}
        F = (SSR_r − SSR_u) / (SSR_u / (m − 3))

    with m the regression-row count (observations having a lag-1
    predecessor). Released F only — the F(1, m−3) CDF is the caller's
    table lookup (the ``chi_square_independence`` convention).

    Both SSRs come from centered second moments: SSR_r = Syy −
    Syu²/Suu and SSR_u = Syy − (Svv·Syu² − 2·Suv·Syu·Syv +
    Suu·Syv²)/(Suu·Svv − Suv²) with u = y_{t−1}, v = x_{t−1} — the
    textbook two-regressor normal-equation solve by Cramer's rule.

    Ordering and exclusion follow the :func:`autocorrelation`
    contract: per-entity (ts, order_tiebreak) sequence, rows with a
    NULL timestamp, cause, or effect excluded BEFORE sequencing
    (complete-case series — a gap splices, it does not null-pad;
    documented, matches the pairwise-complete ACF convention),
    missing tiebreak warns.

    Determinism (the krippendorff per-term ladder): inputs snap to
    ``decimal(20,6)``; regression-row means divide exact decimal
    sums by exact longs (one IEEE double each); every centered
    product rounds to 9 dp and pools as decimal(38,9) (order-free
    exact sums); SSRs snap at 9 dp; the F ratio's numerator clamps at
    0 (exact math guarantees SSR_r ≥ SSR_u; the release grain may dip
    a hair below) and releases at 6 dp. NULL F when m ≤ 3 (no error
    df), when Suu or the Cramer determinant is ≤ 0 at the release
    grain (constant or collinear regressors), or when SSR_u ≤ 0 (a
    perfect fit has no error variance to test against).

    Scale shape: one keyed sequence window (the lag pass) + two keyed
    aggregations + one co-partitioned join — exactly
    :func:`autocorrelation`'s plan; nothing global, nothing
    driver-side; skew equals entity skew.

    Returns ``(entity_col, n, m, ssr_r, ssr_u, f_stat)`` — ``n`` the
    entity's complete-case observation count, ``m = max(n − 1, 0)``
    the regression rows."""
    decv = f"decimal(20,{SNAP_SCALE})"
    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("granger_lag1")
    from . import drop_nan_rows

    base = drop_nan_rows(df, cause_col, effect_col).filter(
        F.col(ts_col).isNotNull()
        & F.col(cause_col).isNotNull()
        & F.col(effect_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(cause_col).cast(decv).alias("__x"),
        F.col(effect_col).cast(decv).alias("__y"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    w = Window.partitionBy("__e").orderBy(
        *[F.col(f"__o{i}") for i in range(len(order))])
    lagged = base.select(
        "__e", "__y",
        F.lag("__y", 1).over(w).alias("__u"),
        F.lag("__x", 1).over(w).alias("__v"))
    # regression rows: observations with a predecessor
    reg = lagged.filter(F.col("__u").isNotNull())
    stats = reg.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum("__y").alias("__sy"),
        F.sum("__u").alias("__su"),
        F.sum("__v").alias("__sv"))
    nobs = lagged.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    yb = F.col("__sy").cast("double") / F.col("__m")
    ub = F.col("__su").cast("double") / F.col("__m")
    vb = F.col("__sv").cast("double") / F.col("__m")
    j = reg.join(stats, "__e")
    dy = F.col("__y").cast("double") - yb
    du = F.col("__u").cast("double") - ub
    dv = F.col("__v").cast("double") - vb
    d9 = "decimal(38,9)"

    def _pool(a, b, name):
        return F.sum(F.round(a * b, 9).cast(d9)).alias(name)

    mom = j.groupBy("__e").agg(
        F.max("__m").alias("__m"),
        _pool(dy, dy, "__syy"), _pool(dy, du, "__syu"),
        _pool(dy, dv, "__syv"), _pool(du, du, "__suu"),
        _pool(du, dv, "__suv"), _pool(dv, dv, "__svv"))
    syy = F.col("__syy").cast("double")
    syu = F.col("__syu").cast("double")
    syv = F.col("__syv").cast("double")
    suu = F.col("__suu").cast("double")
    suv = F.col("__suv").cast("double")
    svv = F.col("__svv").cast("double")
    det = F.round(suu * svv - suv * suv, 9)
    ssr_r = F.round(syy - syu * syu / suu, 9)
    expl = (svv * syu * syu - 2.0 * suv * syu * syv
            + suu * syv * syv) / det
    ssr_u = F.round(syy - expl, 9)
    m = F.col("__m")
    md = m.cast("double")
    ok_r = (m > 3) & (F.round(suu, 9) > 0)
    ok_u = ok_r & (det > 0)
    fnum = F.greatest(F.round(ssr_r - ssr_u, 9), F.lit(0.0))
    f_ok = ok_u & (ssr_u > 0)
    per = mom.select(
        "__e",
        F.col("__m").alias("m"),
        F.when(ok_r, F.round(ssr_r, RELEASE_DP)).alias("ssr_r"),
        F.when(ok_u, F.round(ssr_u, RELEASE_DP)).alias("ssr_u"),
        F.when(f_ok, F.round(fnum / (ssr_u / (md - 3.0)), RELEASE_DP))
        .alias("f_stat"))
    out = nobs.join(per, "__e", "left").select(
        F.col("__e").alias(entity_col), F.col("n"),
        F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("m"),
        "ssr_r", "ssr_u", "f_stat")
    return out


def changepoint_variance(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
    min_segment: int = 5,
) -> DataFrame:
    """Single VARIANCE-changepoint detection per entity by binary
    segmentation — WHERE did the series' volatility shift, the
    scale-shift sibling of :func:`changepoint_binary`'s level shift
    (the classic two costs of the binary-seg / PELT family; Killick
    et al. 2012 use exactly this Gaussian variance cost): the split
    t* maximizing the log-likelihood gain

        gain(t) = n·ln(σ̂²) − t·ln(σ̂²_L) − (n−t)·ln(σ̂²_R)

    with σ̂² the biased MLE variance (Sq/m − (S/m)²) of each span.
    Gain 0 means homogeneous volatility; a variance shift with a flat
    mean is invisible to the level cost and vice versa.

    Ordering follows the :func:`autocorrelation` contract: per-entity
    (ts, order_tiebreak) sequence, NULL values and NULL timestamps
    excluded BEFORE sequencing, missing tiebreak warns.

    Determinism: values snap to decimal(20,6) and scale to EXACT
    integers u = x·10^6 BEFORE squaring (a decimal·decimal
    product is silently rounded by Spark's allowPrecisionLoss — only
    integer squares are exact on every engine); prefix sums of u and
    u² are exact decimal(38,0) window folds; each span's variance is
    one double expression over exact integers snapped through the
    nano-unit ladder (floor(v·1e9) — IEEE ops on identical doubles
    are engine-identical, round(double, 9) is not); candidates where
    ANY span's snapped variance is ≤ 0 (a constant segment has −∞
    cost — no finite gain exists) are inadmissible; gains fold the
    snapped variances' logs and round at 9 dp BEFORE the argmax so
    the (gain desc, t asc) winner is engine-identical; variances
    release pure-integer HALF_UP at 6 dp. Entities with no
    admissible candidate (too short, or every cut leaves a constant
    side) release NULL split/gain.

    ``min_segment`` defaults to 5 — a 1-point variance estimate is
    meaningless, and the larger floor keeps the MLE spans honest
    (the level cost's default stays 2: means are stable earlier).

    Scale shape: one keyed sequence window (row number + two running
    sums), one keyed total agg + co-partitioned join, one keyed
    argmax window — all partitioned by entity, nothing global.
    Returns one row per entity: ``(entity_col, n, split_t, gain,
    var_left, var_right)`` — ``split_t`` the LAST position of the
    left segment (1-based)."""
    if int(min_segment) < 1:
        raise ValueError(
            f"min_segment must be >= 1, got {min_segment}")
    decv = f"decimal(20,{SNAP_SCALE})"
    d0 = "decimal(38,0)"
    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("changepoint_variance")
    # scale to EXACT integers u = x·10^6 BEFORE squaring: Spark
    # evaluates decimal(20,s)·decimal(20,s) as decimal(38, <2s) under
    # allowPrecisionLoss — the product is silently ROUNDED, while a
    # SQL oracle keeps the exact scale-2s value (r14 self-review #1,
    # verified divergent at the 10th dp). Integer squares are exact
    # in decimal(38,0) on every engine.
    from . import drop_nan_rows

    u = (F.col(value_col).cast(decv) * (10 ** SNAP_SCALE)).cast(d0)
    base = drop_nan_rows(df, value_col).filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"), u.alias("__u"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    ocols = [F.col(f"__o{i}") for i in range(len(order))]
    wseq = Window.partitionBy("__e").orderBy(*ocols)
    run = wseq.rowsBetween(Window.unboundedPreceding, 0)
    seq = base.select(
        "__e", "__u",
        F.row_number().over(wseq).alias("__t"),
        F.sum("__u").over(run).alias("__sl"),
        F.sum((F.col("__u") * F.col("__u")).cast(d0)).over(run)
        .alias("__ql"))
    # exact sums are order-free, so totals are ONE keyed aggregation
    # (not a join back to the t = n prefix row — r14 self-review #6)
    tot = seq.groupBy("__e").agg(
        F.max("__t").cast("long").alias("__n"),
        F.sum("__u").cast(d0).alias("__s"),
        F.sum((F.col("__u") * F.col("__u")).cast(d0)).cast(d0)
        .alias("__q"))
    j = seq.join(tot, "__e")
    ms = int(min_segment)
    t = F.col("__t").cast("double")
    n = F.col("__n").cast("double")
    sl = F.col("__sl").cast("double")
    ql = F.col("__ql").cast("double")
    s = F.col("__s").cast("double")
    q = F.col("__q").cast("double")
    down = float(10 ** (2 * SNAP_SCALE))

    def _var_units(qq, ss, mm):
        # biased-MLE variance in ORIGINAL units, snapped through the
        # nano-unit ladder (floor(v·1e9) — IEEE ops on identical
        # doubles are engine-identical; round(double, 9) is not)
        return F.floor(
            (qq / mm - (ss / mm) * (ss / mm)) / down * 1.0e9
        ).cast("long")

    vlu = _var_units(ql, sl, t)
    vru = _var_units(q - ql, s - sl, n - t)
    vfu = _var_units(q, s, n)
    cand = j.filter(
        (F.col("__t") >= ms) & (F.col("__n") - F.col("__t") >= ms)
    ).select(
        "__e", "__t", "__n",
        vlu.alias("__vl"), vru.alias("__vr"), vfu.alias("__vf")
    ).filter(
        (F.col("__vl") > 0) & (F.col("__vr") > 0)
        & (F.col("__vf") > 0))
    v9 = 1.0e-9

    def _ln(units):
        return F.log(units.cast("double") * v9)

    gain = F.round(
        F.col("__n").cast("double") * _ln(F.col("__vf"))
        - F.col("__t").cast("double") * _ln(F.col("__vl"))
        - (F.col("__n") - F.col("__t")).cast("double")
        * _ln(F.col("__vr")), 9)
    wbest = Window.partitionBy("__e").orderBy(
        F.desc("__g"), F.asc("__t"))
    best = (cand.withColumn("__g", gain)
            .withColumn("__rk", F.row_number().over(wbest))
            .filter(F.col("__rk") == 1))
    from . import nano_release

    out = best.select(
        F.col("__e").alias(entity_col),
        F.col("__n").cast("long").alias("n"),
        F.col("__t").cast("long").alias("split_t"),
        F.round(F.col("__g"), RELEASE_DP).alias("gain"),
        nano_release("__vl").alias("var_left"),
        nano_release("__vr").alias("var_right"))
    # entities with NO admissible candidate still release a row
    short = tot.join(
        best.select("__e"), "__e", "left_anti"
    ).select(
        F.col("__e").alias(entity_col),
        F.col("__n").cast("long").alias("n"),
        F.lit(None).cast("long").alias("split_t"),
        F.lit(None).cast("double").alias("gain"),
        F.lit(None).cast("double").alias("var_left"),
        F.lit(None).cast("double").alias("var_right"))
    return out.unionByName(short)


def _count_inversions(a, _leaf: int = 1024) -> int:
    """Strict inversion count (pairs i < j with a[i] > a[j]) by
    divide-and-conquer with ``np.searchsorted`` cross-counts —
    O(n log² n), vectorized per level, exact integers. Ties
    contribute nothing (strict comparison), which is exactly the
    Mann-Kendall convention.

    Leaves at or below ``_leaf`` elements use ONE vectorized
    upper-triangle comparison (<= ~1 MiB of bools) instead of
    recursing to singletons: the r14 bench profile showed the
    recursion itself — ~2n Python frames per series, each doing a
    tiny np.sort/searchsorted — dominating the kernel (guide §4.2:
    hand whole batches to vectorized native code). Exactness is
    untouched: the leaf counts the same strict pairs, and the
    asymptotics above the leaf are unchanged."""
    import numpy as np

    n = len(a)
    if n < 2:
        return 0
    if n <= _leaf:
        return int(np.triu(a[:, None] > a[None, :], k=1).sum())
    mid = n // 2
    left, right = np.sort(a[:mid]), a[mid:]
    inv = _count_inversions(a[:mid], _leaf) + _count_inversions(
        a[mid:], _leaf)
    # for each r in right: count of l in left with l > r
    inv += int(
        (mid - np.searchsorted(left, right, side="right")).sum())
    return inv


def mann_kendall(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Mann-Kendall trend test (Mann 1945, Kendall 1975)
    — the distribution-free "is this series monotonically trending?"
    screen a monitoring pipeline runs before fitting any slope:

        S = Σ_{i<j} sign(x_j − x_i)        (j later in sequence)
        Var(S) = [n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)] / 18
        z = (S∓1)/√Var(S)   (continuity-corrected; z = 0 at S = 0)

    with t_g the tied-value group sizes. S is exactly Kendall's tau-b
    numerator between the time order and the values — but computed
    per entity in O(n log² n) via a strict INVERSION COUNT
    (S = comparable_pairs − 2·inversions), not a pair join: the
    sequential-per-key ``applyInPandas`` escape hatch
    (:func:`holt_linear`'s documented shape — each series ships once,
    cross-entity parallelism is Spark's, nothing quadratic anywhere).

    Determinism: S, the tie term, and Var's numerator are EXACT
    integers (arbitrary-precision Python); no arithmetic ever touches
    the values themselves — only comparisons — so no input snap is
    needed (both engines read identical doubles from the same
    parquet; ties are exact bit-equality, the only cross-engine-
    stable tie rule). NULL values, NULL timestamps, AND NaN values
    are excluded BEFORE sequencing (the rank/score NaN≡NULL
    contract). Var and z release HALF_UP at 6 dp (driver-side
    kernels must not use python's half-even ``round``); z is NULL
    when Var ≤ 0 (n < 2 or all values tied).

    Returns ``(entity_col [string], n, s, n_tie_pairs, var_s, z)``
    — ``n_tie_pairs`` the Σ C(t_g, 2) pairs sign() zeroes out."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    order = [F.col(ts_col)]
    onames = ["__o0"]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
        onames.append("__o1")
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("mann_kendall")
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull())
    vtype = base.schema[value_col].dataType
    if isinstance(vtype, (T.DoubleType, T.FloatType)):
        base = base.filter(~F.isnan(value_col))
    if isinstance(vtype, T.DecimalType) and vtype.precision > 15:
        # the kernel compares at float64: two decimals beyond ~15
        # significant digits can collapse into a TIE the exact type
        # would distinguish (r14 self-review #4) — refuse rather
        # than silently changing S and the tie correction
        raise TypeError(
            "mann_kendall compares values at float64; "
            f"{vtype.simpleString()} exceeds double precision — "
            "cast the column to double (accepting float ties) or "
            "rescale to <= 15 significant digits first")
    src = base.select(
        F.col(entity_col).cast("string").alias("__e"),
        F.col(value_col).cast("double").alias("__x"),
        *[c.alias(nm) for c, nm in zip(order, onames)])
    quantum = Decimal(1).scaleb(-RELEASE_DP)

    def _rel(v: float) -> float:
        return float(Decimal(v).quantize(quantum, ROUND_HALF_UP))

    schema = (f"`{entity_col}` string, n long, s long, "
              "n_tie_pairs long, var_s double, z double")

    def _series(xs: "np.ndarray"):
        """Exact MK stats for one ordered series (ints are exact: the
        int64 products below are bounded by n³ ≤ 1e18 for n ≤ 1e6,
        past which the Python-int path takes over)."""
        n = len(xs)
        inv = _count_inversions(xs)
        counts = np.unique(xs, return_counts=True)[1]
        if n <= 1_000_000:
            c = counts.astype(np.int64)
            tie_pairs = int((c * (c - 1) // 2).sum())
            tie_var = int((c * (c - 1) * (2 * c + 5)).sum())
        else:  # pragma: no cover — exact arbitrary-precision fallback
            tie_pairs = sum(int(t) * (int(t) - 1) // 2 for t in counts)
            tie_var = sum(int(t) * (int(t) - 1) * (2 * int(t) + 5)
                          for t in counts)
        total = n * (n - 1) // 2
        s = (total - tie_pairs) - 2 * inv
        var_s = (n * (n - 1) * (2 * n + 5) - tie_var) / 18.0
        if var_s > 0:
            if s > 0:
                z = _rel((s - 1) / math.sqrt(var_s))
            elif s < 0:
                z = _rel((s + 1) / math.sqrt(var_s))
            else:
                z = 0.0
        else:
            z = None
        return n, s, tie_pairs, _rel(var_s), z

    def _kernel(batches):
        """Per-partition kernel over (entity, value) rows already
        grouped AND ordered by the JVM sort: per-series Python cost is
        a handful of numpy calls, not a pandas-DataFrame-per-group
        applyInPandas invocation (the r14 profile: 1,500 entities paid
        ~3 ms each in per-group plumbing — guide §4.5, amortize per
        task). Groups can span Arrow batches, so a carry buffer joins
        the pieces; memory is one batch plus the largest single
        series, same bound as the per-group shape."""
        cols = {entity_col: [], "n": [], "s": [], "n_tie_pairs": [],
                "var_s": [], "z": []}

        def close(ent, bufs):
            xs = bufs[0] if len(bufs) == 1 else np.concatenate(bufs)
            n, s, tie_pairs, var_s, z = _series(xs)
            cols[entity_col].append(ent)
            cols["n"].append(n)
            cols["s"].append(s)
            cols["n_tie_pairs"].append(tie_pairs)
            cols["var_s"].append(var_s)
            cols["z"].append(z)

        cur_e, bufs = None, []
        open_group = False
        for pdf in batches:
            if not len(pdf):
                continue
            es = pdf["__e"].to_numpy()
            xs = pdf["__x"].to_numpy(dtype="float64")
            cut = np.nonzero(es[1:] != es[:-1])[0] + 1
            starts = np.concatenate(([0], cut))
            ends = np.concatenate((cut, [len(es)]))
            for s0, e0 in zip(starts, ends):
                ent = es[s0]
                if open_group and not (
                        ent == cur_e
                        or (ent is None and cur_e is None)):
                    close(cur_e, bufs)
                    bufs = []
                cur_e, open_group = ent, True
                bufs.append(xs[s0:e0])
        if open_group:
            close(cur_e, bufs)
        yield pd.DataFrame(cols)

    # one hash exchange on the entity + an in-partition sort replaces
    # the applyInPandas group machinery; only the two columns the
    # kernel reads cross the Python boundary (guide §4.1)
    return (
        src.repartition("__e")
        .sortWithinPartitions("__e", *onames)
        .select("__e", "__x")
        .mapInPandas(_kernel, schema)
    )


def dickey_fuller(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Dickey-Fuller unit-root test (Dickey & Fuller
    1979; the lag-0 "DF" regression with drift) — is each series a
    random walk (unit root) or mean-reverting? The stationarity
    screen that belongs BEFORE :func:`autocorrelation` /
    :func:`granger_lag1` modeling (regressing non-stationary series
    is the classic spurious-correlation trap):

        Δy_t = a + ρ·y_{t−1} + e_t
        DF = ρ̂ / se(ρ̂)

    with ρ̂ = S_ud/S_uu and se²(ρ̂) = (SSR/(m−2))/S_uu over centered
    moments of u = y_{t−1} against d = Δy_t. Released DF only — the
    Dickey-Fuller critical values are the caller's table lookup (the
    ``chi_square_independence`` convention; DF is NOT t-distributed
    under the null, which is the whole point of the test).

    Ordering, exclusion, and precision follow :func:`granger_lag1`
    exactly: complete-case (ts, tiebreak) sequencing, decimal input
    snap (Δy is an EXACT decimal difference before any double), 9-dp
    decimal(38,9) centered-product pools, 9-dp moment snaps, release
    at 6 dp. NULL ρ̂/DF when m < 3 (no error df), S_uu ≤ 0 at the
    release grain (constant lag), or SSR ≤ 0 (a perfect fit).

    Scale shape: one keyed lag window + two keyed aggregations + one
    co-partitioned join — :func:`autocorrelation`'s plan. Returns
    ``(entity_col, n, m, rho, df_stat)`` — ``m = max(n − 1, 0)``
    regression rows."""
    decv = f"decimal(20,{SNAP_SCALE})"
    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        from . import warn_missing_tiebreak

        warn_missing_tiebreak("dickey_fuller")
    from . import drop_nan_rows

    base = drop_nan_rows(df, value_col).filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(value_col).cast(decv).alias("__y"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    w = Window.partitionBy("__e").orderBy(
        *[F.col(f"__o{i}") for i in range(len(order))])
    lagged = base.select(
        "__e", "__y", F.lag("__y", 1).over(w).alias("__u"))
    reg = lagged.filter(F.col("__u").isNotNull()).select(
        "__e", "__u", (F.col("__y") - F.col("__u")).alias("__d"))
    stats = reg.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("__m"),
        F.sum("__u").alias("__su"),
        F.sum("__d").alias("__sd"))
    nobs = lagged.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    ub = F.col("__su").cast("double") / F.col("__m")
    db = F.col("__sd").cast("double") / F.col("__m")
    j = reg.join(stats, "__e")
    du = F.col("__u").cast("double") - ub
    dd = F.col("__d").cast("double") - db
    d9 = "decimal(38,9)"
    mom = j.groupBy("__e").agg(
        F.max("__m").alias("__m"),
        F.sum(F.round(du * du, 9).cast(d9)).alias("__suu"),
        F.sum(F.round(du * dd, 9).cast(d9)).alias("__sud"),
        F.sum(F.round(dd * dd, 9).cast(d9)).alias("__sdd"))
    suu = F.col("__suu").cast("double")
    sud = F.col("__sud").cast("double")
    sdd = F.col("__sdd").cast("double")
    m = F.col("__m")
    md = m.cast("double")
    rho = sud / suu
    ssr = F.round(sdd - sud * sud / suu, 9)
    ok = (m > 2) & (F.round(suu, 9) > 0)
    se2 = ssr / (md - 2.0) / suu
    per = mom.select(
        "__e", F.col("__m").alias("m"),
        F.when(ok, F.round(rho, RELEASE_DP)).alias("rho"),
        F.when(ok & (ssr > 0),
               F.round(rho / F.sqrt(se2), RELEASE_DP)).alias("df_stat"))
    return nobs.join(per, "__e", "left").select(
        F.col("__e").alias(entity_col), F.col("n"),
        F.coalesce(F.col("m"), F.lit(0).cast("long")).alias("m"),
        "rho", "df_stat")


def mase(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    actual_col: str,
    forecast_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Mean Absolute Scaled Error (Hyndman & Koehler
    2006) — THE scale-free forecast-accuracy metric: the forecast's
    mean absolute error divided by the in-sample naive (lag-1)
    forecast's, so 1.0 means "no better than persistence" across
    series of any magnitude (percentage errors blow up near zero;
    MASE doesn't):

        MASE = (1/n)·Σ|y_t − ŷ_t| /
               (1/(n−1))·Σ_{t≥2}|y_t − y_{t−1}|
             = (n−1)·Σ|e| / (n·Σ|Δy|)   — one exact integer ratio

    over values scaled to integers (the never-square-a-decimal
    discipline — here differences and absolutes stay exact in
    decimal(38,0); the common scaling cancels), released as the raw
    double of the ratio. Ordering and exclusion follow the
    :func:`autocorrelation` contract (complete-case rows where ts,
    actual, or forecast is NULL/NaN; tiebreak warns when missing).
    NULL MASE when n < 2 or the naive denominator is exactly 0 (a
    constant series has no persistence error to scale by).

    Scale shape: one keyed lag window + one keyed aggregation.
    Returns ``(entity_col, n, mase)``."""
    from . import drop_nan_rows, warn_missing_tiebreak

    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        warn_missing_tiebreak("mase")
    d0 = "decimal(38,0)"
    dec = f"decimal(20,{SNAP_SCALE})"
    y = (F.col(actual_col).cast(dec) * (10 ** SNAP_SCALE)).cast(d0)
    f_ = (F.col(forecast_col).cast(dec) * (10 ** SNAP_SCALE)).cast(d0)
    base = drop_nan_rows(df, actual_col, forecast_col).filter(
        F.col(ts_col).isNotNull()
        & F.col(actual_col).isNotNull()
        & F.col(forecast_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        y.alias("__y"), f_.alias("__f"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    w = Window.partitionBy("__e").orderBy(
        *[F.col(f"__o{i}") for i in range(len(order))])
    lagged = base.select(
        "__e", "__y", "__f",
        F.lag("__y", 1).over(w).alias("__p"))
    agg = lagged.groupBy("__e").agg(
        F.count(F.lit(1)).cast(d0).alias("__n"),
        F.sum(F.abs(F.col("__y") - F.col("__f"))).cast(d0)
        .alias("__se"),
        F.sum(F.when(F.col("__p").isNotNull(),
                     F.abs(F.col("__y") - F.col("__p"))))
        .cast(d0).alias("__sd"))
    n = F.col("__n")
    num = ((n - 1) * F.col("__se")).cast(d0)
    den = (n * F.col("__sd")).cast(d0)
    return agg.select(
        F.col("__e").alias(entity_col),
        n.cast("long").alias("n"),
        F.when((n >= 2) & (den > 0),
               num.cast("double") / den.cast("double"))
        .alias("mase"))


def durbin_watson(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    value_col: str,
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-entity Durbin-Watson statistic (Durbin & Watson 1950) —
    the classic first-order serial-correlation screen on a
    mean-detrended series: DW ≈ 2·(1 − r₁), near 2 for white noise,
    toward 0 under positive autocorrelation, toward 4 under
    negative::

        DW = Σ_{t≥2}(y_t − y_{t−1})² / Σ_t (y_t − ȳ)²
           = n·Σ(Δu)² / (n·Σu² − (Σu)²)   over u = y·10^6

    — one EXACT integer ratio (the never-square-a-decimal
    discipline: values scale to decimal(38,0) integers BEFORE any
    product; the 10^6 factors cancel), released as the raw
    double of the ratio. Ordering and exclusion follow the
    :func:`autocorrelation` contract (complete-case ts/value
    NULL/NaN exclusion, tiebreak warns when missing). NULL DW when
    n < 2 (no difference terms) or the centered denominator is 0
    (constant series).

    Exactness envelope (the overflow-audit register): (Σu)² caps the
    form — with |value| ≤ 1e5 at scale 6 (u ≤ 1e11), per-entity
    series up to ~1e7 rows stay inside decimal(38,0); beyond that
    the sums, not the data, overflow first. Per-ENTITY length is the
    bound, not corpus size.

    Scale shape: one keyed lag window + one keyed aggregation —
    :func:`mase`'s plan. Returns ``(entity_col, n, dw)``."""
    from . import drop_nan_rows, warn_missing_tiebreak

    order = [F.col(ts_col)]
    if order_tiebreak is not None:
        order.append(F.col(order_tiebreak))
    else:
        warn_missing_tiebreak("durbin_watson")
    d0 = "decimal(38,0)"
    dec = f"decimal(20,{SNAP_SCALE})"
    u = (F.col(value_col).cast(dec) * (10 ** SNAP_SCALE)).cast(d0)
    base = drop_nan_rows(df, value_col).filter(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"), u.alias("__u"),
        *[c.alias(f"__o{i}") for i, c in enumerate(order)])
    w = Window.partitionBy("__e").orderBy(
        *[F.col(f"__o{i}") for i in range(len(order))])
    lagged = base.select(
        "__e", "__u", F.lag("__u", 1).over(w).alias("__p"))
    dd = F.col("__u") - F.col("__p")
    agg = lagged.groupBy("__e").agg(
        F.count(F.lit(1)).cast(d0).alias("__n"),
        F.coalesce(
            F.sum(F.when(F.col("__p").isNotNull(), dd * dd)),
            F.lit(0)).cast(d0).alias("__num"),
        F.sum(F.col("__u") * F.col("__u")).cast(d0).alias("__suu"),
        F.sum("__u").cast(d0).alias("__su"))
    n = F.col("__n")
    num = (n * F.col("__num")).cast(d0)
    den = (n * F.col("__suu")
           - F.col("__su") * F.col("__su")).cast(d0)
    return agg.select(
        F.col("__e").alias(entity_col),
        n.cast("long").alias("n"),
        F.when((n >= 2) & (den > 0),
               num.cast("double") / den.cast("double"))
        .alias("dw"))


def forecast_accuracy(
    df: DataFrame,
    entity_col: str,
    actual_col: str,
    forecast_col: str,
) -> DataFrame:
    """Per-entity forecast-accuracy battery (Hyndman & Koehler 2006
    taxonomy) — the three standard error summaries beside
    :func:`mase`'s scaled form, none of which needs the series
    ORDER (pure keyed aggregation, no lag window):

    - ``wape`` = Σ|y−f| / Σ|y| — the weighted (aggregate-relative)
      absolute error; ONE exact integer ratio over scaled values,
      raw-double release. NULL when Σ|y| = 0.
    - ``mape`` = mean(|y−f| / |y|) over rows with y ≠ 0 — the
      per-row relative error; zero-actual rows are EXCLUDED and
      counted in ``n_zero_actual`` (the division is undefined, not
      0 — the textbook MAPE caveat).
    - ``smape`` = mean(2·|y−f| / (|y|+|f|)) ∈ [0, 2] — the
      symmetric form; rows with y = f = 0 are excluded and counted
      in ``n_zero_pair``.

    Determinism — the ALL-INTEGER ladder (one step beyond the
    nano-unit ladder: no double enters at all): values scale to
    decimal(38,0) integers u = x·10^6; each per-row term floors
    to nano units by INTEGER division ``(|Δu|·1e9) div denom``
    (exact rational floor, replayable verbatim as ``//`` in any
    engine); unit sums pool as decimal(38,0); the per-entity mean is
    another integer div; the release is the shared pure-integer
    HALF_UP step (``nano_release``). NaN ≡ NULL complete-case on
    both value columns.

    Envelope (the overflow-audit register): Spark's ``div`` returns
    BIGINT, so a single per-row RATIO above ~9.2e9 (a forecast nine
    billion times the actual) overflows the term — loud under ANSI
    mode, the suite's default. WAPE has no such bound (pure
    decimal(38,0) sums).

    Returns ``(entity_col, n, n_zero_actual, n_zero_pair, wape,
    mape, smape)``."""
    from . import drop_nan_rows, nano_release

    d0 = "decimal(38,0)"
    dec = f"decimal(20,{SNAP_SCALE})"
    uy = (F.col(actual_col).cast(dec) * (10 ** SNAP_SCALE)).cast(d0)
    uf = (F.col(forecast_col).cast(dec) * (10 ** SNAP_SCALE)).cast(d0)
    base = drop_nan_rows(df, actual_col, forecast_col).filter(
        F.col(actual_col).isNotNull()
        & F.col(forecast_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        uy.alias("__y"), uf.alias("__f"))
    ae = F.abs(F.col("__y") - F.col("__f")).cast(d0)
    ay = F.abs(F.col("__y")).cast(d0)
    af = F.abs(F.col("__f")).cast(d0)
    terms = base.select(
        "__e",
        ae.alias("__ae"), ay.alias("__ay"),
        F.when(ay > 0, F.expr(
            "CAST((abs(__y - __f) * 1000000000) div abs(__y)"
            " AS DECIMAL(38,0))")).alias("__mu"),
        F.when((ay + af) > 0, F.expr(
            "CAST((2 * abs(__y - __f) * 1000000000)"
            " div (abs(__y) + abs(__f)) AS DECIMAL(38,0))"))
        .alias("__su"))
    agg = terms.groupBy("__e").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__ae").cast(d0).alias("__sae"),
        F.sum("__ay").cast(d0).alias("__say"),
        F.sum(F.when(F.col("__mu").isNull(), 1).otherwise(0))
        .cast("long").alias("n_zero_actual"),
        F.sum(F.when(F.col("__su").isNull(), 1).otherwise(0))
        .cast("long").alias("n_zero_pair"),
        F.sum("__mu").cast(d0).alias("__smu"),
        F.count("__mu").cast(d0).alias("__nm"),
        F.sum("__su").cast(d0).alias("__ssu"),
        F.count("__su").cast(d0).alias("__ns"))
    out = agg.select(
        F.col("__e").alias(entity_col),
        "n", "n_zero_actual", "n_zero_pair",
        F.when(F.col("__say") > 0,
               F.col("__sae").cast("double")
               / F.col("__say").cast("double")).alias("wape"),
        F.when(F.col("__nm") > 0, nano_release(
            "__smu div __nm")).alias("mape"),
        F.when(F.col("__ns") > 0, nano_release(
            "__ssu div __ns")).alias("smape"))
    return out
