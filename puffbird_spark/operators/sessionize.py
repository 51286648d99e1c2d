"""Sessionization (gaps-and-islands) as a batch DataFrame operator.

The streaming sibling is ``F.session_window`` / ``applyInPandasWithState``
(puffbird_spark/streaming/); this operator assigns explicit per-key session
ids in batch, which the window-function version can do in ONE shuffle:
both window passes (the lag-gap flag and the running session counter) share
the same ``partitionBy(keys)`` sort order, so Catalyst plans a single
Exchange + Sort and evaluates both Window operators over it — no second
shuffle at any scale.

Session semantics match Spark's session_window: a session closes after
``gap`` of inactivity; session_end = last event + gap. All time arithmetic
is interval-based, so TIMESTAMP and TIMESTAMP_NTZ columns both work (NTZ
cannot be cast to epoch numerics in Spark 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import RELEASE_DP


def sessionize(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    gap_seconds: int,
    order_tiebreak: list[str] | None = None,
    session_col: str = "session_seq",
) -> DataFrame:
    """Assign a per-key session sequence number (1-based, in time order).

    ``order_tiebreak``: extra ordering columns making the per-key sort
    unique (required for deterministic lag on equal timestamps — pass the
    event's unique id).
    """
    order = [F.col(ts_col), *map(F.col, order_tiebreak or [])]
    w = Window.partitionBy(*keys).orderBy(*order)
    prev_ts = F.lag(ts_col).over(w)
    gap = F.expr(f"INTERVAL {int(gap_seconds)} SECOND")
    new_session = (
        prev_ts.isNull() | (F.col(ts_col) - prev_ts > gap)
    ).cast("int")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn(
        session_col, F.sum(new_session).over(w_run).cast("long")
    )


def session_stats(
    df: DataFrame,
    ts_col: str,
    keys: list[str],
    gap_seconds: int,
    order_tiebreak: list[str] | None = None,
    extra_aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Per-session summary: start, end (last event + gap, matching
    ``F.session_window``), event count, active duration (last - first,
    whole seconds). One shuffle total (see module docstring), then a
    partial-aggregating groupBy on (keys, session_seq) — at scale the
    groupBy reuses the window's hash partitioning on ``keys``, so no
    further exchange of the full table."""
    sess = sessionize(df, ts_col, keys, gap_seconds, order_tiebreak)
    aggs = [
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("__last_ts"),
        F.count(F.lit(1)).alias("n_events"),
    ]
    for name, expr in (extra_aggs or {}).items():
        aggs.append(expr.alias(name))
    extra_names = list((extra_aggs or {}).keys())
    return (
        sess.groupBy(*keys, "session_seq")
        .agg(*aggs)
        .select(
            *keys, "session_seq", "session_start",
            (F.col("__last_ts")
             + F.expr(f"INTERVAL {int(gap_seconds)} SECOND"))
            .alias("session_end"),
            "n_events",
            # elapsed whole seconds via epoch-microsecond difference —
            # engine-portable (boundary-crossing date_diff semantics are
            # not); NTZ needs the cast hop, exact under the UTC session tz
            F.expr(
                "(unix_micros(cast(__last_ts as timestamp))"
                " - unix_micros(cast(session_start as timestamp)))"
                " div 1000000"
            ).cast("long").alias("duration_sec"),
            *extra_names,
        )
    )


def funnel_depths(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Ordered funnel analysis: per key, how deep into the
    ``steps`` sequence did the events get, respecting EVENT-TIME order
    (step k+1 must occur strictly after the first completion of step
    k)? Returns ``(key, depth)`` with depth in [0, len(steps)].

    Shape: ONE keyed aggregation collects each key's (ts, type) events
    into a sorted array, then a scan-local fold walks it with the step
    list as a plan literal — no self-join per step (the naive funnel is
    k progressive joins = k shuffles; this is one), no Python.
    Per-key event arrays are session-sized; a pathological key is the
    same skew any per-key analysis faces (diagnose with
    `key_skew_stats`).
    """
    tb = tiebreak_col or ts_col
    ev = F.array_sort(
        F.collect_list(
            F.struct(F.col(ts_col).alias("t"), F.col(tb).alias("tb"),
                     F.col(type_col).alias("ty"))))
    steps_lit = F.array(*[F.lit(s) for s in steps])
    init = F.struct(
        F.lit(0).alias("d"),
        F.lit(None).cast("timestamp").alias("t"))
    fold = F.aggregate(
        ev,
        init,
        lambda acc, e: F.when(
            (acc["d"] < F.lit(len(steps)))
            & (e["ty"] == F.element_at(steps_lit, acc["d"] + 1))
            & ((acc["d"] == 0) | (e["t"] > acc["t"])),
            F.struct(
                (acc["d"] + 1).alias("d"), e["t"].cast("timestamp").alias("t")),
        ).otherwise(acc),
    )
    return df.groupBy(F.col(key).alias(key)).agg(
        fold["d"].alias("depth"))


def funnel_conversion(
    df: DataFrame,
    key: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Aggregate funnel report: one row per step with how many keys
    reached at least that depth (step 0 = all keys with any event)."""
    depths = funnel_depths(df, key, ts_col, type_col, steps, tiebreak_col)
    rows = F.array(*[
        F.struct(
            F.lit(i).alias("step"),
            F.sum((F.col("depth") >= i).cast("long")).alias("n_reached"),
        )
        for i in range(len(steps) + 1)
    ])
    return (
        depths.agg(rows.alias("__r"))
        .select(F.explode("__r").alias("r"))
        .select("r.step", "r.n_reached")
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    anchor_date: str = "2024-01-01",
    bucket_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix — the classic product-analytics
    complement to :func:`funnel_conversion`: users cohort by their
    FIRST-activity bucket, and each ``(cohort, age)`` cell counts how
    many of them were active ``age`` buckets later. Buckets are
    ``floor(days_since_anchor / bucket_days)`` — pure integer
    arithmetic from a fixed anchor, deliberately NOT ``date_trunc``
    ('week' start conventions differ across engines; an anchored day
    count replays everywhere).

    Scale shape: one (user, bucket) distinct (the activity table, the
    only data-sized shuffle), one per-user min for the cohort
    assignment, one user-keyed join (co-keyed with the distinct —
    AQE-friendly), then a cohort-keyed count. No self-join over
    events, nothing quadratic in users. Returns
    ``(cohort_bucket, age_buckets, n_cohort, n_active, retention_rate)``
    with the rate an exact-integer division rounded at 6 dp."""
    if bucket_days <= 0:
        raise ValueError("bucket_days must be positive")
    bucket = (
        F.datediff(F.to_date(ts_col), F.to_date(F.lit(anchor_date)))
        / bucket_days
    ).cast("int")
    activity = (
        events.select(
            F.col(user_col).alias("__u"), bucket.alias("__b"))
        .filter(F.col("__b").isNotNull())
        .distinct()
    )
    first = activity.groupBy("__u").agg(F.min("__b").alias("__cohort"))
    sizes = first.groupBy("__cohort").agg(
        F.count(F.lit(1)).alias("n_cohort"))
    cells = (
        activity.join(first, "__u")
        .groupBy("__cohort", (F.col("__b") - F.col("__cohort"))
                 .alias("age_buckets"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        cells.join(sizes, "__cohort")
        .select(
            F.col("__cohort").alias("cohort_bucket"),
            "age_buckets",
            F.col("n_cohort").cast("long").alias("n_cohort"),
            F.col("n_active").cast("long").alias("n_active"),
            F.round(
                F.col("n_active").cast("double") / F.col("n_cohort"),
                RELEASE_DP,
            ).alias("retention_rate"),
        )
    )


def attribution_credit(
    events: DataFrame,
    conversion_type: str,
    touch_types: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    model: str = "linear",
) -> DataFrame:
    """Multi-touch attribution — split each conversion's credit over
    the touchpoints that preceded it (since the user's previous
    conversion): the marketing-analytics standard next to
    :func:`funnel_conversion`. Models:

    - ``first_touch`` / ``last_touch`` — all credit to the earliest /
      latest preceding touch;
    - ``linear`` — 1/n to each of the n preceding touches;
    - ``position`` — 40% first, 40% last, the middle 20% split evenly
      (the U-shaped industry default; a single touch takes 100%, two
      touches split 50/50).

    A conversion with NO preceding touch contributes no credit rows
    (unattributable — callers count them via the conversion total).
    Returns per ``(channel := touch event_type)``:
    ``(channel, n_conversions_touched, credit)`` with credit the
    6-dp-rounded sum of per-touch shares (each share rounds at
    6 dp first — order-independent sums, the float policy).

    Scale shape: ONE window over (user, ts) assigns each touch to the
    NEXT conversion (running conversion counter walked backwards), a
    per-conversion count/rank window sizes the shares, one channel
    agg finishes. No self-joins over events, nothing quadratic."""
    from pyspark.sql.window import Window

    if model not in ("first_touch", "last_touch", "linear", "position"):
        raise ValueError(f"unknown attribution model {model!r}")
    ev = events.select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts"),
        F.col(type_col).alias("__t"),
    ).filter(
        F.col("__t").isin([conversion_type] + list(touch_types)))
    w_fwd = Window.partitionBy("__u").orderBy("__ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    # conversion id: number of conversions seen so far INCLUDING this
    # row — touches before conversion k (and after k-1) share id k+1
    # with that conversion when counted from the row AFTER them...
    # simpler and exact: count conversions at-or-before each row; a
    # touch with count c attributes to conversion c+1; a conversion
    # row with count c IS conversion c.
    conv_cnt = F.sum(
        F.when(F.col("__t") == conversion_type, 1).otherwise(0)
    ).over(w_fwd)
    tagged = ev.select(
        "__u", "__ts", "__t",
        F.when(F.col("__t") == conversion_type, conv_cnt)
        .otherwise(conv_cnt + 1).alias("__conv"))
    w_conv = Window.partitionBy("__u", "__conv")
    w_rank = Window.partitionBy("__u", "__conv").orderBy("__ts")
    # only touch groups that actually END in a conversion get credit
    has_conv = F.max(
        F.when(F.col("__t") == conversion_type, 1).otherwise(0)
    ).over(w_conv)
    touches = (
        tagged.withColumn("__has", has_conv)
        .filter((F.col("__t") != conversion_type) & (F.col("__has") == 1))
        .withColumn("__n", F.count(F.lit(1)).over(w_conv))
        .withColumn("__r", F.row_number().over(w_rank))
    )
    if model == "first_touch":
        share = F.when(F.col("__r") == 1, F.lit(1.0)).otherwise(F.lit(0.0))
    elif model == "last_touch":
        share = F.when(F.col("__r") == F.col("__n"), F.lit(1.0)) \
            .otherwise(F.lit(0.0))
    elif model == "linear":
        share = F.lit(1.0) / F.col("__n")
    else:  # position (U-shaped)
        share = (
            F.when(F.col("__n") == 1, F.lit(1.0))
            .when(F.col("__n") == 2, F.lit(0.5))
            .when(F.col("__r") == 1, F.lit(0.4))
            .when(F.col("__r") == F.col("__n"), F.lit(0.4))
            .otherwise(F.lit(0.2) / (F.col("__n") - 2)))
    return (
        touches.select(
            F.col("__t").alias("channel"),
            F.struct("__u", "__conv").alias("__cid"),
            F.round(share, RELEASE_DP).alias("__s"))
        .groupBy("channel")
        .agg(
            F.countDistinct("__cid").cast("long")
            .alias("n_conversions_touched"),
            F.round(F.sum("__s"), RELEASE_DP).alias("credit"),
        )
    )
