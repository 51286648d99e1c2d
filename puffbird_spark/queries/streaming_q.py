"""Time-window surface (SURVEY §2.2 streaming rows), run in batch mode so
the DuckDB oracle can replay them. The same window expressions run unchanged
over ``readStream`` — see ``puffbird_spark/streaming/`` and
``tests/test_streaming.py`` for the incremental/watermark semantics.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .base import dec, load, query, scratch_dir

#: how long a gate's stream replay may take to drain its staged batches
_REPLAY_TIMEOUT_S = 300


def _stage_batches(in_dir: str, frames) -> str:
    """Stage the input of a ``maxFilesPerTrigger=1`` file stream, one
    parquet file per micro-batch, and return ``in_dir``: the part files
    of each frame in ``frames`` (frame by frame, then in part-file, that
    is partition, order) become ``in_dir/b0.parquet``, ``b1``, ...

    The file source takes the oldest-modified file first, and the part
    files of one write can share an mtime, so the order is set here:
    file ``b<i>`` is stamped ``i`` seconds after ``b0`` (``os.utime``).
    Gates whose result depends on batch order (an ascending range split
    under a watermark, per-key batch monotonicity, an order-dependent
    sketch) replay the same order on every call."""
    os.makedirs(in_dir)
    t0 = int(time.time())
    n = 0
    for k, frame in enumerate(frames):
        tmp = f"{in_dir}_stage{k}"
        frame.write.parquet(tmp)
        for part in sorted(
                f for f in os.listdir(tmp) if f.endswith(".parquet")):
            dst = f"{in_dir}/b{n}.parquet"
            os.rename(f"{tmp}/{part}", dst)
            os.utime(dst, (t0 + n, t0 + n))
            n += 1
        shutil.rmtree(tmp)
    return in_dir


def _replay(stream, base: str, sink=None, output_mode: str = "update"):
    """Run ``stream`` over everything staged (``availableNow``) through
    ``write_foreach_batch``, checkpointing under ``<base>/ckpt``, and
    return ``<base>/out``, where the default sink appends every
    micro-batch as parquet. A query that fails, or has not drained
    within ``_REPLAY_TIMEOUT_S``, is stopped and raises, so a gate never
    reads a partial sink."""
    from ..streaming import write_foreach_batch

    out_dir = f"{base}/out"
    if sink is None:
        def sink(df, epoch_id):
            df.write.mode("append").parquet(out_dir)

    q = write_foreach_batch(
        stream, sink, checkpoint=f"{base}/ckpt", trigger_once=True,
        output_mode=output_mode).start()
    try:
        if not q.awaitTermination(_REPLAY_TIMEOUT_S):
            raise TimeoutError(
                f"stream replay in {base} has not drained after "
                f"{_REPLAY_TIMEOUT_S} s")
    finally:
        q.stop()
    return out_dir


@query("stream_tumbling", oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""")
def stream_tumbling(spark, sf_dir):
    """Tumbling 1h window per event type — identical plan under
    readStream + withWatermark."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )


@query("stream_sliding", oracle="""
WITH g AS (
  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
           AS win_start,
         value
  FROM events)
SELECT win_start, COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM g GROUP BY 1
""")
def stream_sliding(spark, sf_dir):
    """Sliding window (1h length, 30m slide): every event lands in exactly
    two windows; the oracle replays that by unnesting the two grid starts."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("win_start"), "n", "sum_value")
    )


@query("stream_session", oracle="""
WITH flagged AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              > INTERVAL '15 minutes'
         OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         THEN 1 ELSE 0 END AS new_session
  FROM events),
sessions AS (
  SELECT user_id, ts,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_id
  FROM flagged)
SELECT user_id, MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '15 minutes' AS session_end,
       COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
""")
def stream_session(spark, sf_dir):
    """Session window (15m gap) per user. Spark's session_window end is
    last-event + gap; the oracle replays gaps-and-islands."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@query("stream_dedup_watermark", oracle="""
SELECT user_id, event_type, MIN(event_id) AS first_event_id, MIN(ts) AS first_ts
FROM events GROUP BY user_id, event_type
""")
def stream_dedup_watermark(spark, sf_dir):
    """Batch replay of streaming dedup-by-key: first event per
    (user, type). Under readStream this is dropDuplicatesWithinWatermark;
    batch-deterministic form pins the survivor with min()."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id"),
        F.min("ts").alias("first_ts"),
    )


@query("hypertable_rollup", oracle="""
SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type, COUNT(*),
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
FROM events GROUP BY 2, 3
""")
def hypertable_rollup_q(spark, sf_dir):
    """Multi-granularity time rollup (hour + day) in ONE scan + ONE
    shuffle (operators/rollup_time.py) — the continuous-aggregate pattern;
    the oracle computes each granularity separately and unions."""
    from ..operators.rollup_time import hypertable_rollup

    ev = load(spark, sf_dir, "events")
    return hypertable_rollup(
        ev, "ts", ["event_type"],
        aggs={
            "n": F.count(F.lit(1)),
            "sum_value": F.sum(dec("value")).cast("double"),
        },
        granularities=["hour", "day"],
    )


@query("stream_static_join", oracle="""
SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.event_type = 'purchase'
""")
def stream_static_join(spark, sf_dir):
    """Stream-static enrichment join shape (events stream x customer dim).
    The dimension side is broadcast — in streaming this is exactly the
    supported stream-static join pattern."""
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    cust = F.broadcast(load(spark, sf_dir, "customer"))
    return ev.join(cust, ev.user_id == cust.c_custkey).select(
        "event_id", "user_id", "c_name", "c_mktsegment"
    )


@query("sessionize_events", oracle="""
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
         OR ts - lag(ts) OVER w > INTERVAL '15 minutes' THEN 1 ELSE 0 END AS ns
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
    CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS session_seq
  FROM flagged)
SELECT user_id, session_seq, MIN(ts) AS session_start,
  MAX(ts) + INTERVAL '15 minutes' AS session_end,
  COUNT(*) AS n_events,
  CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS BIGINT)
    AS duration_sec,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_seq
""")
def sessionize_events(spark, sf_dir):
    """Explicit gaps-and-islands sessionization (operators/sessionize.py):
    per-user session ids in ONE shuffle (both window passes share the
    partitionBy sort). Unlike stream_session's session_window this exposes
    the session id, so downstream joins/labels can reference it."""
    from ..operators.sessionize import session_stats

    ev = load(spark, sf_dir, "events")
    return session_stats(
        ev, "ts", ["user_id"], gap_seconds=900,
        order_tiebreak=["event_id"],
        extra_aggs={"sum_value": F.sum(dec("value")).cast("double")},
    )


@query("stream_late_data", oracle="""
WITH m AS (SELECT max(ts) AS max_ts FROM events)
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
  COUNT(*) AS n_total,
  CAST(SUM(CASE WHEN ts < max_ts - INTERVAL '30 minutes'
                THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
  CAST(SUM(CASE WHEN ts >= max_ts - INTERVAL '30 minutes'
                THEN CAST(value AS DECIMAL(12,2))
                ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
    AS sum_value_ontime
FROM events, m GROUP BY 1
""")
def stream_late_data(spark, sf_dir):
    """Batch twin of watermark late-data handling: the final watermark is
    max(event time) - 30min (a 1-row broadcast, no extra shuffle of the
    fact side); per 10-minute window, count events the watermark would
    have dropped and aggregate only the on-time ones — exactly what the
    streaming job's state store retains."""
    ev = load(spark, sf_dir, "events")
    wm = ev.agg(F.max("ts").alias("max_ts"))
    late = F.col("ts") < F.col("max_ts") - F.expr("INTERVAL 30 MINUTES")
    zero = F.lit(0).cast("decimal(12,2)")
    return (
        ev.crossJoin(F.broadcast(wm))
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(late.cast("int")).cast("long").alias("n_late"),
            F.sum(F.when(~late, dec("value")).otherwise(zero))
            .cast("double").alias("sum_value_ontime"),
        )
        .select(F.col("w.start").alias("win_start"),
                "n_total", "n_late", "sum_value_ontime")
    )


@query("stream_foreach_batch", oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""")
def stream_foreach_batch(spark, sf_dir):
    """TRUE streaming execution inside the gate (not a batch twin): the
    events table replays through readStream → watermarked tumbling agg →
    foreachBatch parquet sink (availableNow), and the SINK's contents are
    what the oracle checks. One staged file = one micro-batch, so update
    mode emits each window exactly once."""
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream, tumbling_agg

    base = scratch_dir(sf_dir, "stream_foreach_batch")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_dir = _stage_batches(f"{base}/in", [raw.coalesce(1)])
    stream = normalize_nano_ts(
        read_parquet_stream(spark, in_dir, raw.schema), ["ts"]
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = tumbling_agg(
        stream, ts_col="ts", window="1 hour", watermark="2 hours",
        keys=["event_type"],
        aggs=[
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("value")).cast("double").alias("sum_value"),
        ],
    )
    return (
        spark.read.parquet(_replay(agg, base))
        .withColumn("win_start", F.col("win_start").cast("timestamp_ntz"))
        .select("win_start", "event_type", "n", "sum_value")
    )


@query("rollup_incremental", oracle="""
SELECT 'hour' AS granularity, date_trunc('hour', ts) AS bucket_start,
       event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type, COUNT(*),
       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE)
FROM events GROUP BY 2, 3
""")
def rollup_incremental(spark, sf_dir):
    """Continuous-aggregate REFRESH: the events before Jan 16 are
    materialized as a base rollup; the rest arrive as a delta batch and
    merge in (operators/rollup_time.py::incremental_rollup) — history is
    never rescanned. The oracle recomputes the rollup from scratch, so
    the incremental merge must be indistinguishable from a full rebuild.
    Decimal partial sums keep the merge exact; the double cast happens
    once at the end."""
    from ..operators.rollup_time import hypertable_rollup, incremental_rollup

    ev = load(spark, sf_dir, "events")
    cutoff = "2024-01-16"
    old = ev.filter(F.col("ts") < F.lit(cutoff).cast("timestamp_ntz"))
    new = ev.filter(F.col("ts") >= F.lit(cutoff).cast("timestamp_ntz"))
    partials = {
        "n": (lambda: F.count(F.lit(1)), lambda c: F.sum(c)),
        "sum_value": (lambda: F.sum(dec("value")),
                      lambda c: F.sum(c)),
    }
    base = hypertable_rollup(
        old, "ts", ["event_type"],
        {name: p() for name, (p, _) in partials.items()},
        granularities=["hour", "day"],
    )
    merged = incremental_rollup(
        base, new, "ts", ["event_type"], partials,
        granularities=["hour", "day"],
    )
    return merged.select(
        "granularity", "bucket_start", "event_type",
        F.col("n").cast("long").alias("n"),
        F.col("sum_value").cast("double").alias("sum_value"),
    )


@query("stream_stateful_count", oracle="""
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS total
FROM events WHERE user_id IS NOT NULL GROUP BY user_id
""")
def stream_stateful_count(spark, sf_dir):
    """TRUE streaming applyInPandasWithState (not a batch twin): events
    replay in TWO micro-batches (two staged files, maxFilesPerTrigger=1),
    the per-user running counter lives in keyed state ACROSS the batches,
    and each batch's emissions land in a parquet sink. The oracle checks
    the final (= max, counts only grow) emitted total per user against
    the batch COUNT(*) — evidence the custom state machine both shuffles
    to the key and survives micro-batch boundaries."""
    from ..streaming import read_parquet_stream
    from ..streaming.stateful import running_count

    base = scratch_dir(sf_dir, "stream_stateful_count")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id").isNotNull()
    )
    # two files -> two micro-batches; both halves hit most users so
    # the counter genuinely accumulates across the boundary
    in_dir = _stage_batches(f"{base}/in", [
        ev.filter(F.col("event_id") % 2 == i).coalesce(1) for i in (0, 1)])
    stream = read_parquet_stream(spark, in_dir, ev.schema)
    totals = running_count(stream.select("user_id"), key="user_id")
    return (
        spark.read.parquet(_replay(totals, base))
        .groupBy("user_id")
        .agg(F.max("total").alias("total"))
    )


#: event-time TTL for the streaming inactivity gate (6 h in seconds):
#: at both driven SFs a healthy fraction of users have a trailing
#: inactivity gap above it (sf0.001: 9 of 15) and the rest below.
_TTL_SEC = 6 * 3600


@query("stream_state_ttl", oracle=f"""
WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events
           WHERE user_id IS NOT NULL),
cut AS (SELECT (MIN(us) + MAX(us)) // 2 AS c, MAX(us) AS mx,
               (SELECT MAX(us) FROM e WHERE us < (SELECT (MIN(us) + MAX(us)) // 2 FROM e)) AS mxb0
        FROM e),
per AS (SELECT user_id, MIN(us) AS first_us, MAX(us) AS last_us,
               COUNT(*) AS n FROM e GROUP BY 1)
SELECT per.user_id,
  per.first_us AS first_seen_us, per.last_us AS last_seen_us,
  CAST(per.n AS BIGINT) AS n_events,
  CAST(CASE WHEN per.last_us // 1000 + {_TTL_SEC * 1000}
                 < cut.mxb0 // 1000
            THEN cut.mxb0 // 1000
            ELSE cut.mx // 1000 END AS BIGINT) AS expired_at_wm_ms
FROM per CROSS JOIN cut
WHERE per.last_us // 1000 + {_TTL_SEC * 1000} < cut.mx // 1000
""")
def stream_state_ttl(spark, sf_dir):
    """TRUE streaming event-time state TTL (`ttl_inactivity_tracker`,
    streaming/stateful.py): per-user activity state expires when the
    watermark passes last-activity + 6 h, emitting one final row per
    expired user — the dormant-entity emission. Replay: two
    deterministic halves cut at the LITERAL midpoint timestamp
    (oracle-computable, unlike a sampled range partitioner); after the
    last file the engine's automatic no-data micro-batch
    (spark.sql.streaming.noDataMicroBatches, default on) advances the
    watermark to the final event time and fires the remaining eligible
    timeouts — no sentinel needed (a far-future sentinel would push
    the final watermark past EVERY user and evict all of them). The
    oracle's visibility rule: a user is emitted iff last_ms + ttl_ms <
    final watermark (ms-floored, strict — the engine's event-time
    timeout predicate), with state always the user's FULL history (a
    mid-stream evictee has no later events by construction; an
    active-in-both-halves user cannot time out at the half boundary);
    the recorded watermark is the half-boundary one for early
    evictions, the global one otherwise."""
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream
    from ..streaming.stateful import ttl_inactivity_tracker

    base = scratch_dir(sf_dir, "stream_state_ttl")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = normalize_nano_ts(raw, ["ts"]).filter(
        F.col("user_id").isNotNull()
    ).select("user_id", F.col("ts").cast("timestamp").alias("ts"))
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).collect()[0]
    cut = (int(lo) + int(hi)) // 2
    in_dir = _stage_batches(f"{base}/in", [
        ev.filter(F.unix_micros("ts") < cut).coalesce(1),
        ev.filter(F.unix_micros("ts") >= cut).coalesce(1),
    ])
    src = read_parquet_stream(spark, in_dir, "user_id long, ts timestamp")
    expired = ttl_inactivity_tracker(
        src, key="user_id", ts_col="ts", ttl_sec=_TTL_SEC)
    return spark.read.parquet(
        _replay(expired, base, output_mode="append")).select(
        "user_id", "first_seen_us", "last_seen_us", "n_events",
        "expired_at_wm_ms")


@query("stream_stream_join", oracle="""
SELECT v.user_id AS user_id, v.event_id AS view_id,
       p.event_id AS purchase_id,
       v.ts AS view_ts, p.ts AS purchase_ts
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
""")
def stream_stream_join(spark, sf_dir):
    """TRUE stream-stream interval join (not a batch twin): views and
    purchases replay as two separate file streams, both watermarked; the
    inner join matches purchases to views of the same user within 30
    minutes of EVENT time. The hard streaming primitive the stream-static
    join can't express — both sides buffer in watermark-bounded state.
    Oracle replays the interval self-join in batch."""
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream

    base = scratch_dir(sf_dir, "stream_stream_join")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = normalize_nano_ts(raw, ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp"))

    def read(kind):
        in_dir = _stage_batches(f"{base}/in_{kind}", [
            ev.filter(F.col("event_type") == kind).coalesce(1)])
        return read_parquet_stream(spark, in_dir, ev.schema).withWatermark(
            "ts", "2 hours")

    v = read("view").select(
        F.col("user_id").alias("v_user"), F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    p = read("purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id", "purchase_id", "view_ts", "purchase_ts",
    )
    return (
        spark.read.parquet(_replay(joined, base, output_mode="append"))
        .withColumn("view_ts", F.col("view_ts").cast("timestamp_ntz"))
        .withColumn("purchase_ts", F.col("purchase_ts").cast("timestamp_ntz"))
        .select("user_id", "view_id", "purchase_id", "view_ts", "purchase_ts")
    )


@query("stream_incremental_dedup", oracle="""
WITH d AS (SELECT doc_id, md5(text) AS digest FROM documents),
f AS (SELECT digest, MIN(doc_id) AS doc_id FROM d GROUP BY digest)
SELECT doc_id, digest FROM f
""")
def stream_incremental_dedup(spark, sf_dir):
    """TRUE streaming append-shard dedup: the documents table replays as
    two micro-batches (two staged files, maxFilesPerTrigger=1) through
    foreachBatch; each batch runs `incremental_dedup` against the digest
    state accumulated from prior batches and appends its survivors +
    digests. Because micro-batches arrive id-ordered and the operator's
    replay==one-shot invariant holds (null-safe digest joins, unit- and
    gate-tested batch-side), the sink must equal one-shot exact dedup of
    the WHOLE corpus — which is exactly what the oracle computes. The
    digest state is the only thing reread per batch: 16 bytes/doc, not
    the corpus."""
    from ..operators.dedup import incremental_dedup
    from ..streaming import read_parquet_stream

    base = scratch_dir(sf_dir, "stream_incremental_dedup")
    out_dir, state_dir = f"{base}/out", f"{base}/state"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    half = docs.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
    # two staged files == two id-ordered micro-batches
    in_dir = _stage_batches(f"{base}/in", [
        docs.filter(F.col("doc_id") <= half).coalesce(1),
        docs.filter(F.col("doc_id") > half).coalesce(1),
    ])

    def sink(batch, epoch_id):
        sess = batch.sparkSession
        if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
            state = sess.read.parquet(state_dir)
        else:
            state = sess.createDataFrame([], "digest string")
        out = incremental_dedup(batch, state, "text", "doc_id")
        out.persist()
        out.select("doc_id", "digest").write.mode("append").parquet(
            out_dir)
        state.unionByName(out.select("digest")).distinct().write.mode(
            "overwrite").parquet(state_dir + "_next")
        out.unpersist()
        # atomic-enough swap for a single-writer availableNow replay
        shutil.rmtree(state_dir, ignore_errors=True)
        os.rename(state_dir + "_next", state_dir)

    stream = read_parquet_stream(spark, in_dir, docs.schema)
    return spark.read.parquet(_replay(stream, base, sink)).select(
        "doc_id", "digest")


@query("timeseries_gap_fill", oracle="""
WITH e AS (SELECT user_id, ts, event_id, value FROM events
           WHERE user_id < 50),
bounds AS (SELECT user_id, date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1
           FROM e GROUP BY user_id),
grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR))
           AS bucket_ts
         FROM bounds),
obs AS (SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value,
          row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM e),
o1 AS (SELECT user_id, bucket_ts, value, TRUE AS obs
       FROM obs WHERE rn = 1),
j AS (SELECT g.user_id, g.bucket_ts, o1.value,
             COALESCE(o1.obs, FALSE) AS is_observed
      FROM grid g LEFT JOIN o1 USING (user_id, bucket_ts))
SELECT user_id, bucket_ts,
  last_value(value IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY bucket_ts
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
  is_observed
FROM j
""")
def timeseries_gap_fill(spark, sf_dir):
    """Dense-grid resampling with forward fill (`gap_fill`,
    operators/timeseries.py — the hypertable time_bucket_gapfill+locf
    surface): every user gets one row per HOUR spanning their
    [first, last] event, silent hours carry the last observed value
    forward, `is_observed` distinguishes real from filled buckets. The
    per-bucket observation is the deterministic LAST event by
    (ts, event_id) via struct-max — one keyed agg, never a raw-event
    sort. Only user-keyed shuffles; grid size is span/step per key, so
    no single-task window at scale. Every grid row's filled value AND
    observation flag hash-checked against the SQL replay."""
    from ..operators.timeseries import gap_fill

    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return gap_fill(
        ev, ["user_id"], "ts", "value", step="hour",
        tiebreak_cols=["event_id"])


@query("stream_stream_outer_join", oracle="""
WITH e AS (SELECT event_id, ts, user_id, event_type FROM events),
v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM e
      WHERE event_type = 'view'),
p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM e
      WHERE event_type = 'purchase'),
wm AS (SELECT least((SELECT max(view_ts) FROM v),
                    (SELECT max(purchase_ts) FROM p))
              - INTERVAL 2 HOUR AS w),
j AS (SELECT v.user_id, v.view_id, v.view_ts,
             p.purchase_id, p.purchase_ts
      FROM v LEFT JOIN p
        ON v.user_id = p.user_id
       AND p.purchase_ts >= v.view_ts
       AND p.purchase_ts <= v.view_ts + INTERVAL 30 MINUTE)
SELECT user_id, view_id, purchase_id FROM j WHERE purchase_id IS NOT NULL
UNION ALL
SELECT user_id, view_id, NULL FROM j, wm
WHERE purchase_id IS NULL AND view_ts + INTERVAL 30 MINUTE < wm.w
""")
def stream_stream_outer_join(spark, sf_dir):
    """TRUE stream-stream LEFT OUTER interval join: views missing a
    purchase within 30 event-time minutes must STILL emit — but only
    once the watermark proves no match can arrive. Both sides replay as
    watermarked file streams (2 files each, maxFilesPerTrigger=1, so
    the watermark genuinely advances across micro-batches and the
    closing no-data batch evicts+emits the unmatched tail). The oracle
    is the batch LEFT join with the STREAMING visibility rule applied:
    matches always emit; null-matches emit iff view_ts + 30min is
    below the final watermark (min of both sides' max ts − 2h) —
    exactly the state-eviction boundary a real cluster would hold.
    Unflushable trailing state is the documented cost of outer joins
    on unbounded streams, not an artifact of the replay."""
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream

    base = scratch_dir(sf_dir, "stream_stream_outer_join")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = normalize_nano_ts(raw, ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp"))

    def read(kind):
        # two ascending-range files per side -> multiple micro-batches ->
        # the watermark moves and the final no-data batch flushes state;
        # an inverted order would make the early half arrive behind the
        # watermark and be dropped as late data
        in_dir = _stage_batches(f"{base}/in_{kind}", [
            ev.filter(F.col("event_type") == kind).repartitionByRange(
                2, "ts")])
        return read_parquet_stream(spark, in_dir, ev.schema).withWatermark(
            "ts", "2 hours")

    v = read("view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"))
    p = read("purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"))
    joined = v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts")
           <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
        "left_outer",
    ).select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id",
    )
    return spark.read.parquet(
        _replay(joined, base, output_mode="append")).select(
        "user_id", "view_id", "purchase_id")


@query("funnel_conversion", oracle="""
WITH e AS (SELECT user_id, ts, event_type FROM events),
u AS (SELECT DISTINCT user_id FROM e),
t1 AS (SELECT user_id, MIN(ts) AS t FROM e
       WHERE event_type = 'view' GROUP BY 1),
t2 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM e JOIN t1 USING (user_id)
       WHERE e.event_type = 'click' AND e.ts > t1.t GROUP BY 1),
t3 AS (SELECT e.user_id, MIN(e.ts) AS t
       FROM e JOIN t2 USING (user_id)
       WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1)
SELECT 0 AS step, CAST((SELECT COUNT(*) FROM u) AS BIGINT) AS n_reached
UNION ALL
SELECT 1, CAST((SELECT COUNT(*) FROM t1) AS BIGINT)
UNION ALL
SELECT 2, CAST((SELECT COUNT(*) FROM t2) AS BIGINT)
UNION ALL
SELECT 3, CAST((SELECT COUNT(*) FROM t3) AS BIGINT)
""")
def funnel_conversion(spark, sf_dir):
    """Ordered funnel analysis (`funnel_conversion`,
    operators/sessionize.py): per user, how deep does
    view -> click -> purchase get in EVENT-TIME order (each step
    strictly after the first completion of the previous)? Spark walks
    each user's sorted events with ONE keyed agg + a scan-local fold
    (the naive funnel is k progressive self-joins = k shuffles); the
    oracle IS the naive progressive-min formulation — two genuinely
    different algorithms that must agree, per step, on exact user
    counts."""
    from ..operators.sessionize import funnel_conversion
    from ..sources import normalize_nano_ts

    ev = normalize_nano_ts(
        load(spark, sf_dir, "events"), ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    return funnel_conversion(
        ev, "user_id", "ts", "event_type",
        ["view", "click", "purchase"], tiebreak_col="event_id")


@query("timeseries_cusum", oracle="""
WITH e AS (SELECT user_id, ts, event_id,
             CAST(value AS DECIMAL(28,12)) - 55 AS d
           FROM events WHERE value IS NOT NULL),
c AS (SELECT user_id, ts, event_id,
        SUM(d) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM e),
s AS (SELECT user_id, ts,
        CAST(c - least(MIN(c) OVER (PARTITION BY user_id
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
             AS DOUBLE) AS s
      FROM c)
SELECT user_id, CAST(SUM(CASE WHEN s > 400 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_alarms,
       round(MAX(s), 6) AS max_s,
       MIN(CASE WHEN s > 400 THEN ts END) AS first_alarm_ts
FROM s GROUP BY user_id
""")
def timeseries_cusum(spark, sf_dir):
    """CUSUM drift detection per user (`cusum_alarms`,
    operators/timeseries.py) — the data-quality monitor for a metric
    stream: the classic clamp-at-zero recursion looks sequential but
    equals running-sum minus running-min of decimal-snapped deviations,
    so the whole detector is two per-key windows sharing ONE exchange —
    exact, order-pinned, never driver-sequential. Target 55 / alarm
    threshold 400 split the synthetic users ~43/150 alarmed; per-user
    alarm counts, 6-dp max excursion AND first-alarm timestamp all
    hash-checked against the window replay."""
    from ..operators.timeseries import cusum_alarms
    from ..sources import normalize_nano_ts

    ev = normalize_nano_ts(
        load(spark, sf_dir, "events"), ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")).filter(
        F.col("value").isNotNull())
    return cusum_alarms(
        ev, ["user_id"], "ts", "value", target=55.0, threshold=400.0,
        tiebreak_cols=["event_id"])


@query("stream_psi_monitor", oracle="""
WITH ref AS (SELECT event_type, CAST(value AS DOUBLE) AS v
           FROM events
           WHERE value IS NOT NULL AND (event_id // 16) % 2 = 0),
odd AS (SELECT event_type, event_id, value FROM events
        WHERE value IS NOT NULL AND (event_id // 16) % 2 = 1),
half AS (SELECT CAST(FLOOR(MAX(event_id) / 2.0) AS BIGINT) AS h FROM events),
e AS (SELECT event_type, quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS edges
      FROM ref GROUP BY event_type),
psi0 AS (
  WITH cur AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM odd WHERE event_id <= (SELECT h FROM half)),
  ra2 AS (SELECT r.event_type, len(list_filter(e.edges, x -> r.v > x)) AS b,
                 COUNT(*) AS na
          FROM ref r JOIN e ON r.event_type = e.event_type GROUP BY 1, 2),
  rb2 AS (SELECT c.event_type, len(list_filter(e.edges, x -> c.v > x)) AS b,
                 COUNT(*) AS nb
          FROM cur c JOIN e ON c.event_type = e.event_type GROUP BY 1, 2),
  grid AS (SELECT e.event_type, t.range AS b FROM e, range(0, 10) t),
  cells AS (SELECT g.event_type, g.b,
              COALESCE(ra2.na, 0) AS na, COALESCE(rb2.nb, 0) AS nb
            FROM grid g
            LEFT JOIN ra2 ON g.event_type = ra2.event_type AND g.b = ra2.b
            LEFT JOIN rb2 ON g.event_type = rb2.event_type AND g.b = rb2.b),
  tot AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
          FROM cells GROUP BY event_type)
  SELECT c.event_type, CAST(0 AS INT) AS batch,
         round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                   * ln(((c.nb + 0.5) / (t.tb + 5.0))
                        / ((c.na + 0.5) / (t.ta + 5.0)))), 6) AS psi,
         (round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                   * ln(((c.nb + 0.5) / (t.tb + 5.0))
                        / ((c.na + 0.5) / (t.ta + 5.0)))), 6) > 0.25)
           OR MAX(t.tb) = 0 AS drifted
  FROM cells c JOIN tot t ON c.event_type = t.event_type
  GROUP BY c.event_type),
psi1 AS (
  WITH cur AS (SELECT event_type, CAST(CASE WHEN event_type = 'error' THEN value * 3 ELSE value END AS DOUBLE) AS v FROM odd WHERE event_id > (SELECT h FROM half)),
  ra2 AS (SELECT r.event_type, len(list_filter(e.edges, x -> r.v > x)) AS b,
                 COUNT(*) AS na
          FROM ref r JOIN e ON r.event_type = e.event_type GROUP BY 1, 2),
  rb2 AS (SELECT c.event_type, len(list_filter(e.edges, x -> c.v > x)) AS b,
                 COUNT(*) AS nb
          FROM cur c JOIN e ON c.event_type = e.event_type GROUP BY 1, 2),
  grid AS (SELECT e.event_type, t.range AS b FROM e, range(0, 10) t),
  cells AS (SELECT g.event_type, g.b,
              COALESCE(ra2.na, 0) AS na, COALESCE(rb2.nb, 0) AS nb
            FROM grid g
            LEFT JOIN ra2 ON g.event_type = ra2.event_type AND g.b = ra2.b
            LEFT JOIN rb2 ON g.event_type = rb2.event_type AND g.b = rb2.b),
  tot AS (SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
          FROM cells GROUP BY event_type)
  SELECT c.event_type, CAST(1 AS INT) AS batch,
         round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                   * ln(((c.nb + 0.5) / (t.tb + 5.0))
                        / ((c.na + 0.5) / (t.ta + 5.0)))), 6) AS psi,
         (round(SUM(((c.nb + 0.5) / (t.tb + 5.0) - (c.na + 0.5) / (t.ta + 5.0))
                   * ln(((c.nb + 0.5) / (t.tb + 5.0))
                        / ((c.na + 0.5) / (t.ta + 5.0)))), 6) > 0.25)
           OR MAX(t.tb) = 0 AS drifted
  FROM cells c JOIN tot t ON c.event_type = t.event_type
  GROUP BY c.event_type)
SELECT * FROM psi0 UNION ALL SELECT * FROM psi1
""")
def stream_psi_monitor(spark, sf_dir):
    """TRUE streaming drift monitoring (`psi_reference_state` /
    `psi_against_reference`, operators/drift.py): the odd-block half of
    events replays as two micro-batches (clean first half; second half
    with the error-type values 3x'd); the REFERENCE state — decile
    edges + reference bucket counts, both key-count-sized — is computed
    ONCE before the stream starts and every batch pays only its own
    keyed bucket count, which is exactly what a production monitor
    persists between batches. The sink appends per-(type, batch) PSI;
    batch 1's 'error' row must read drifted, everything else stable at
    the driver SF. Oracle replays BOTH batches' PSI closed-form; the
    full monitor table is in the hash."""
    from ..operators.drift import psi_against_reference, psi_reference_state
    from ..plans import _release
    from ..streaming import read_parquet_stream

    base = scratch_dir(sf_dir, "stream_psi_monitor")
    out_dir = f"{base}/out"
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    block = (F.col("event_id") / 16).cast("long") % 2
    odd = ev.filter(block == 1)
    half = ev.agg(
        F.floor(F.max("event_id") / 2).cast("long")).collect()[0][0]
    b0 = odd.filter(F.col("event_id") <= half).select(
        "event_type", "value")
    b1 = odd.filter(F.col("event_id") > half).select(
        "event_type",
        F.when(F.col("event_type") == "error", F.col("value") * 3)
        .otherwise(F.col("value")).alias("value"))
    in_dir = _stage_batches(f"{base}/in", [
        part.withColumn("batch", F.lit(i)).coalesce(1)
        for i, part in enumerate((b0, b1))])

    ref = ev.filter(block == 0).select("event_type", "value")
    edges, ref_c, nb = psi_reference_state(
        ref, ["event_type"], "value")
    # the monitor state: computed once, reused every batch
    state = (edges.localCheckpoint(eager=True),
             ref_c.localCheckpoint(eager=True), nb)

    def sink(batch, epoch_id):
        bid = batch.agg(F.max("batch")).collect()[0][0]
        out = psi_against_reference(
            state, batch, ["event_type"], "value")
        out.withColumn("batch", F.lit(int(bid)).cast("int")).select(
            "event_type", "batch", "psi", "drifted"
        ).write.mode("append").parquet(out_dir)

    schema = "event_type string, value double, batch int"
    stream = read_parquet_stream(spark, in_dir, schema)
    try:
        _replay(stream, base, sink, output_mode="append")
    finally:
        _release(state[0])
        _release(state[1])
    return spark.read.parquet(out_dir)


@query("timeseries_ewma", oracle="""
WITH e AS (SELECT user_id, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS c
           FROM events WHERE value IS NOT NULL),
w AS (SELECT user_id, event_id,
        list(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
      FROM e)
SELECT user_id, event_id,
  list_sum([vals[i] * CASE WHEN i = 1 THEN pow(0.5, len(vals) - 1)
            ELSE pow(0.5, len(vals) - i + 1) END
            FOR i IN range(1, len(vals) + 1)]) AS ewma_cents
FROM w
""")
def timeseries_ewma(spark, sf_dir):
    """Truncated-EWMA smoothing per user (`ewma_smooth`,
    operators/timeseries.py): 16-tap exponential filter with dyadic
    weights (newest 1/2, halving back, oldest in-frame absorbs the
    tail so weights sum to 1) over cents-snapped integer values —
    every term and partial sum exactly representable, so the smoothed
    series is BIT-IDENTICAL on any engine and any partitioning, with
    no sequential recursion anywhere: one ordered bounded-ROWS window
    (collect_list) + a scan-local fold. The infinite ewm recursion
    would be driver-sequential or float-path-dependent; the truncated
    filter is the Spark-shaped equivalent (tail weight < 2^-15 of the
    signal). Full 15k-row smoothed output hash-checked against the
    window replay."""
    from ..operators.timeseries import ewma_smooth
    from ..sources import normalize_nano_ts

    ev = normalize_nano_ts(
        load(spark, sf_dir, "events"), ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp")).filter(
        F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    return ewma_smooth(
        ev.withColumn("__cents", cents), ["user_id"], "ts", "__cents",
        window=16, tiebreak_cols=["event_id"],
    ).select("user_id", "event_id", "ewma_cents")


@query("interval_coverage", oracle="""
WITH e AS (SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e, event_id
           FROM events),
p AS (SELECT user_id, s, e, event_id,
        MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      FROM e),
i AS (SELECT user_id, s, e,
        SUM(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id ORDER BY s, e, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM p),
isl AS (SELECT user_id, island, COUNT(*) AS n, MAX(e) - MIN(s) AS len
        FROM i GROUP BY user_id, island)
SELECT user_id, CAST(SUM(n) AS BIGINT) AS n_intervals,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(len) AS BIGINT) AS total_coverage
FROM isl GROUP BY user_id
""")
def interval_coverage(spark, sf_dir):
    """Union-of-intervals activity coverage (`interval_coverage`,
    operators/timeseries.py): each event opens a 5-minute activity
    interval; per user the operator reports how much wall-clock was
    covered counting overlaps ONCE — the sweep-line reduced to two
    keyed windows sharing one exchange (never a driver-side sweep).
    Epoch MICROSECONDS keep the arithmetic exact on both engines
    (second-truncation diverges on micro-stamped data). Interval,
    island, and coverage totals all hash-checked per user."""
    from pyspark.sql import functions as FF

    from ..operators.timeseries import interval_coverage
    from ..sources import normalize_nano_ts

    ev = normalize_nano_ts(
        load(spark, sf_dir, "events"), ["ts"]).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id", "event_id",
        FF.unix_micros("ts").alias("s"),
        (FF.unix_micros("ts") + 300_000_000).alias("e"))
    return interval_coverage(
        iv, ["user_id"], "s", "e", tiebreak_cols=["event_id"])


@query("stream_sessionize", oracle="""
WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
flagged AS (
  SELECT user_id, event_id, us,
    CASE WHEN lag(us) OVER w IS NULL
         OR us - lag(us) OVER w > 900000000 THEN 1 ELSE 0 END AS ns
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
sess AS (
  SELECT user_id, us,
    SUM(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seq
  FROM flagged),
s AS (SELECT user_id, seq, MIN(us) AS start_us, MAX(us) AS end_us,
        COUNT(*) AS n
      FROM sess GROUP BY user_id, seq),
last AS (SELECT user_id, MAX(seq) AS mx FROM s GROUP BY user_id)
SELECT s.user_id, s.start_us AS session_start_us,
       s.end_us AS session_end_us, CAST(s.n AS BIGINT) AS n_events
FROM s JOIN last USING (user_id) WHERE s.seq < last.mx
""")
def stream_sessionize(spark, sf_dir):
    """TRUE streaming sessionization (`session_tracker`,
    streaming/stateful.py): a custom applyInPandasWithState state
    machine holds each user's OPEN session as three longs, emits a
    session only when the 15-minute event-time gap closes it. Events
    replay as two time-ranged files (per-key batch monotonicity — the
    documented contract); the oracle is the BATCH gaps-and-islands
    sessionizer MINUS each user's final session, which is still open
    in state at stream end — the same visibility rule the outer
    stream-stream join pins. Every closed session's start, end, and
    event count hash-checked."""
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream
    from ..streaming.stateful import session_tracker

    base = scratch_dir(sf_dir, "stream_sessionize")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev = normalize_nano_ts(raw, ["ts"]).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
    # per-key batch monotonicity: the ascending range parts replay in order
    in_dir = _stage_batches(f"{base}/in", [ev.repartitionByRange(2, "ts_us")])
    src = read_parquet_stream(
        spark, in_dir, "user_id long, event_id long, ts_us long")
    sessions = session_tracker(
        src, key="user_id", ts_us_col="ts_us",
        tiebreak_col="event_id", gap_sec=900)
    return spark.read.parquet(
        _replay(sessions, base, output_mode="append")).select(
        "user_id", "session_start_us", "session_end_us", "n_events")


@query("stream_exactly_once_sink", oracle="""
SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
FROM events
""")
def stream_exactly_once_sink(spark, sf_dir):
    """TRUE streaming exactly-once delivery (`snapshot_epoch_sink`,
    streaming/ops.py + the snapshot-manifest ledger, round 8): events
    replay as THREE micro-batches (three staged files,
    maxFilesPerTrigger=1) through a foreachBatch sink that commits each
    epoch as one snapshot version whose manifest records the epoch id.
    After the stream drains, the gate SIMULATES the at-least-once
    recovery contract by re-delivering every epoch to the sink — the
    manifest ledger skips all of them (metadata-only check), so the
    table holds every event EXACTLY once and the oracle's plain SELECT
    over the source hash-matches. A duplicate slipping through would
    double rows; a lost epoch would drop them — either breaks the
    hash."""
    from ..operators.layout import read_snapshot, snapshot_versions
    from ..sources import normalize_nano_ts
    from ..streaming import read_parquet_stream, snapshot_epoch_sink

    base = scratch_dir(sf_dir, "stream_exactly_once_sink")
    table = f"{base}/table"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # three staged files = three micro-batch epochs
    in_dir = _stage_batches(f"{base}/in", [
        ev.filter(F.col("event_id") % 3 == i).coalesce(1) for i in range(3)])
    stream = normalize_nano_ts(
        read_parquet_stream(spark, in_dir, ev.schema), ["ts"])
    proj = stream.select(
        "event_id", "event_type", F.col("value").cast("double"))
    sink = snapshot_epoch_sink(table)
    _replay(proj, base, sink, output_mode="append")
    n_versions = len(snapshot_versions(spark, table))
    # at-least-once recovery simulation: re-deliver every epoch
    for i in range(3):
        batch = spark.read.parquet(f"{in_dir}/b{i}.parquet").select(
            "event_id", "event_type", F.col("value").cast("double"))
        sink(batch, i)
    assert len(snapshot_versions(spark, table)) == n_versions, \
        "replayed epochs must not commit new versions"
    return read_snapshot(spark, table).select(
        "event_id", "event_type", "value")


@query("timeseries_theil_sen", oracle="""
WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d,
        CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
             AS DOUBLE) AS x,
        CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
          / COUNT(*) AS y
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type, CAST(ts AS DATE)),
sl AS (SELECT a.event_type, (b.y - a.y) / (b.x - a.x) AS m
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x),
est AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        round(quantile_cont(m, 0.5), 6) AS slope
      FROM sl GROUP BY event_type),
np AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
      FROM daily GROUP BY event_type),
res AS (SELECT d.event_type, MAX(e.n_pairs) AS n_pairs,
        MAX(e.slope) AS slope,
        round(quantile_cont(d.y - e.slope * d.x, 0.5), 6) AS intercept
      FROM daily d JOIN est e ON d.event_type = e.event_type
      GROUP BY d.event_type)
SELECT np.event_type, np.n_points, res.n_pairs, res.slope, res.intercept
FROM np JOIN res ON np.event_type = res.event_type
""")
def timeseries_theil_sen(spark, sf_dir):
    """Theil-Sen robust trend (`theil_sen`, operators/timeseries.py)
    — per event type, the median pairwise slope of the DAILY mean
    value series (the outlier-immune replacement for the OLS trend in
    `agg_group_ols`). Daily means are decimal-exact; slopes are
    identical doubles; the median is the proven
    `F.percentile`/`quantile_cont` pair, and the intercept reuses the
    rounded slope — the whole estimate replays exactly."""
    from ..operators.timeseries import theil_sen

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.withColumn("__d", F.col("ts").cast("date"))
        .groupBy("event_type", "__d")
        .agg((F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
              / F.count(F.lit(1))).alias("y"))
        .select(
            "event_type",
            F.datediff(F.col("__d"), F.lit("1970-01-01").cast("date"))
            .cast("double").alias("x"),
            "y")
    )
    return theil_sen(daily, ["event_type"], "x", "y")


_DECOMP_CTES = """
WITH daily AS (SELECT event_type,
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
    CAST(round(CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*), 9) AS DECIMAL(28,9)) AS yd
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))),
tr AS (SELECT event_type, x, yd, CAST(x % 7 AS INT) AS phase,
    CASE WHEN COUNT(*) OVER w = 7
         THEN CAST(SUM(yd) OVER w AS DOUBLE) / 7 END AS trend
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
det AS (SELECT event_type, x, phase, yd, trend,
    CAST(round(CAST(yd AS DOUBLE) - trend, 9) AS DECIMAL(28,9)) AS dd
  FROM tr WHERE trend IS NOT NULL),
seas AS (SELECT event_type, phase,
    CAST(SUM(dd) AS DOUBLE) / COUNT(*) AS s
  FROM det GROUP BY event_type, phase)
"""

_DECOMP_SELECT = """
SELECT d.event_type, d.x, d.phase,
  round(CAST(d.yd AS DOUBLE), 6) AS y,
  round(d.trend, 6) AS trend,
  round(seas.s, 6) AS seasonal,
  round(round(CAST(d.yd AS DOUBLE), 6) - round(d.trend, 6)
        - round(seas.s, 6), 6) AS residual
FROM det d JOIN seas ON d.event_type = seas.event_type
                    AND d.phase = seas.phase
"""


@query("timeseries_seasonal_decompose", oracle=_DECOMP_CTES + _DECOMP_SELECT)
def timeseries_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition (`seasonal_decompose`,
    operators/timeseries.py) of the per-type daily mean series:
    7-day centered moving-average trend, day-of-week seasonal
    indices from the detrended means, residual from the rounded
    components. Decimal snaps before every order-sensitive sum, so
    trend/seasonal/residual replay bit-for-bit in SQL."""
    from ..operators.timeseries import seasonal_decompose

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.withColumn("__d", F.col("ts").cast("date"))
        .groupBy("event_type", "__d")
        .agg((F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
              / F.count(F.lit(1))).alias("y"))
        .select(
            "event_type",
            F.datediff(F.col("__d"), F.lit("1970-01-01").cast("date"))
            .cast("long").alias("x"),
            "y")
    )
    return seasonal_decompose(daily, ["event_type"], "x", "y",
                              period=7, trend_window=7)


@query("events_transition_matrix", oracle="""
WITH seq AS (SELECT user_id, event_type,
    LEAD(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS next_type
  FROM events WHERE user_id IS NOT NULL),
c AS (SELECT event_type AS from_type, next_type AS to_type,
        COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY from_type)
SELECT c.from_type, c.to_type,
  CAST(c.n AS BIGINT) AS n_transitions,
  round(CAST(c.n AS DOUBLE) / t.tot, 6) AS probability
FROM c JOIN t ON c.from_type = t.from_type
ORDER BY c.from_type, c.to_type
""")
def events_transition_matrix(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences — P(next event type | current), the behavioral-model /
    next-action primitive behind `funnel_conversion` and
    `sessionize_events`. One per-user ordered window (ties broken by
    event_id — fully deterministic), one count agg, one row-total
    join; counts are integers with a single final division."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"))
    c = (seq.filter(F.col("to_type").isNotNull())
         .groupBy("from_type", "to_type")
         .agg(F.count(F.lit(1)).cast("long").alias("n_transitions")))
    tot = c.groupBy("from_type").agg(
        F.sum("n_transitions").alias("__tot"))
    return (
        c.join(F.broadcast(tot), "from_type")
        .select("from_type", "to_type", "n_transitions",
                F.round(F.col("n_transitions").cast("double")
                        / F.col("__tot"), 6).alias("probability"))
        .orderBy("from_type", "to_type")
    )


@query("timeseries_acf", oracle="""
WITH daily AS (SELECT event_type,
    date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS x,
    CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE)
      / COUNT(*) AS y
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))),
st AS (SELECT event_type,
    CAST(SUM(CAST(round(y, 12) AS DECIMAL(28,12))) AS DOUBLE)
      / COUNT(*) AS m
  FROM daily GROUP BY event_type),
dv AS (SELECT d.event_type, d.x, d.y - st.m AS dev
  FROM daily d JOIN st ON d.event_type = st.event_type),
ld AS (SELECT event_type, x, dev,
    LEAD(dev, 1) OVER w AS d1, LEAD(dev, 2) OVER w AS d2,
    LEAD(dev, 3) OVER w AS d3, LEAD(dev, 4) OVER w AS d4,
    LEAD(dev, 5) OVER w AS d5, LEAD(dev, 6) OVER w AS d6,
    LEAD(dev, 7) OVER w AS d7
  FROM dv WINDOW w AS (PARTITION BY event_type ORDER BY x)),
agg AS (SELECT event_type,
    SUM(CAST(round(dev * dev, 12) AS DECIMAL(28,12))) AS den,
    SUM(CAST(round(dev * d1, 12) AS DECIMAL(28,12))) AS n1,
    COUNT(d1) AS c1,
    SUM(CAST(round(dev * d2, 12) AS DECIMAL(28,12))) AS n2,
    COUNT(d2) AS c2,
    SUM(CAST(round(dev * d3, 12) AS DECIMAL(28,12))) AS n3,
    COUNT(d3) AS c3,
    SUM(CAST(round(dev * d4, 12) AS DECIMAL(28,12))) AS n4,
    COUNT(d4) AS c4,
    SUM(CAST(round(dev * d5, 12) AS DECIMAL(28,12))) AS n5,
    COUNT(d5) AS c5,
    SUM(CAST(round(dev * d6, 12) AS DECIMAL(28,12))) AS n6,
    COUNT(d6) AS c6,
    SUM(CAST(round(dev * d7, 12) AS DECIMAL(28,12))) AS n7,
    COUNT(d7) AS c7
  FROM ld GROUP BY event_type),
un AS (
  SELECT event_type, 1 AS lag, c1 AS n_terms, n1 AS num, den FROM agg
  UNION ALL SELECT event_type, 2, c2, n2, den FROM agg
  UNION ALL SELECT event_type, 3, c3, n3, den FROM agg
  UNION ALL SELECT event_type, 4, c4, n4, den FROM agg
  UNION ALL SELECT event_type, 5, c5, n5, den FROM agg
  UNION ALL SELECT event_type, 6, c6, n6, den FROM agg
  UNION ALL SELECT event_type, 7, c7, n7, den FROM agg)
SELECT event_type, CAST(lag AS INT) AS lag,
  CAST(n_terms AS BIGINT) AS n_terms,
  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS acf
FROM un ORDER BY event_type, lag
""")
def timeseries_acf(spark, sf_dir):
    """Exact sample autocorrelation (Box & Jenkins 1970) of the daily
    mean value series per event type, lags 1..7 — the seasonality /
    drift-memory diagnostic feeding `timeseries_seasonal_decompose`
    (a spike at lag 7 is the weekly cycle). Deviations are doubles
    from the exact decimal mean; every product snaps to 12-dp decimal
    before the order-free sums; one division per lag. One window pass
    computes all seven lead columns; the per-key aggregate fans out to
    rows."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.withColumn("__d", F.col("ts").cast("date"))
        .groupBy("event_type", "__d")
        .agg((F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
              / F.count(F.lit(1))).alias("y"))
        .select("event_type",
                F.datediff(F.col("__d"), F.lit("1970-01-01").cast("date"))
                .cast("long").alias("x"), "y")
    )
    st = daily.groupBy("event_type").agg(
        (F.sum(F.round(F.col("y"), 12).cast("decimal(28,12)"))
         .cast("double") / F.count(F.lit(1))).alias("m"))
    dv = daily.join(F.broadcast(st), "event_type").select(
        "event_type", "x", (F.col("y") - F.col("m")).alias("dev"))
    w = W.partitionBy("event_type").orderBy("x")
    cols = {"dev": F.col("dev")}
    for k in range(1, 8):
        cols[f"d{k}"] = F.lead("dev", k).over(w)
    ld = dv.select("event_type", *[v.alias(n) for n, v in cols.items()])

    def snap(c):
        return F.round(c, 12).cast("decimal(28,12)")

    aggs = [F.sum(snap(F.col("dev") * F.col("dev"))).alias("den")]
    for k in range(1, 8):
        aggs.append(F.sum(snap(F.col("dev") * F.col(f"d{k}")))
                    .alias(f"n{k}"))
        aggs.append(F.count(F.col(f"d{k}")).alias(f"c{k}"))
    agg = ld.groupBy("event_type").agg(*aggs)
    rows = F.array(*[
        F.struct(
            F.lit(k).cast("int").alias("lag"),
            F.col(f"c{k}").cast("long").alias("n_terms"),
            F.round(F.col(f"n{k}").cast("double")
                    / F.col("den").cast("double"), 6).alias("acf"))
        for k in range(1, 8)])
    return (
        agg.select("event_type", F.explode(rows).alias("r"))
        .select("event_type", "r.lag", "r.n_terms", "r.acf")
        .orderBy("event_type", "lag")
    )


@query("events_top_paths", oracle="""
WITH seq AS (SELECT user_id, event_type,
    LEAD(event_type, 1) OVER w AS e2,
    LEAD(event_type, 2) OVER w AS e3
  FROM events WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type || '>' || e2 || '>' || e3 AS path,
  CAST(COUNT(*) AS BIGINT) AS n_paths
FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY path ORDER BY n_paths DESC, path LIMIT 10
""")
def events_top_paths(spark, sf_dir):
    """Top-10 three-step behavioral paths (the Sankey / journey-mining
    primitive behind `events_transition_matrix`'s first-order view):
    per-user ordered lead×2 window (event_id tie-break), one count —
    integer-exact, fully deterministic."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"))
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(F.concat_ws(">", "event_type", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paths"))
        .orderBy(F.desc("n_paths"), F.asc("path"))
        .limit(10)
    )


@query("stream_heavy_hitters", oracle="""
WITH types AS (SELECT DISTINCT event_type FROM events
               WHERE user_id IS NOT NULL)
SELECT event_type, item, TRUE AS in_sketch,
       TRUE AS ok_upper, TRUE AS ok_lower
FROM types CROSS JOIN (VALUES ('heavy_0'), ('heavy_1')) AS h(item)
ORDER BY event_type, item
""")
def stream_heavy_hitters(spark, sf_dir):
    """TRUE-streaming Misra-Gries heavy hitters
    (`heavy_hitters_tracker`, streaming/stateful.py): a planted-skew
    item stream (two ~25% heavy accounts over a 997-way tail) replays
    in three ordered micro-batches; the capacity-8 keyed summary must
    still contain both heavy items per event type with estimates
    inside the MG envelope ``true − N/9 <= est <= true`` — checked as
    integer booleans against exact batch counts, so a broken merge
    rule, lost state, or batch-order regression flips a bit and the
    hash. SELF-CHECKING (the sketch itself is order-dependent by
    design; the guarantee is not)."""
    from ..streaming import read_parquet_stream
    from ..streaming.stateful import heavy_hitters_tracker

    item = F.when(
        F.col("user_id") % 10 < 5,
        F.concat(F.lit("heavy_"), (F.col("user_id") % 2).cast("string")),
    ).otherwise(
        F.concat(F.lit("tail_"), (F.col("user_id") % 997).cast("string")))
    base = scratch_dir(sf_dir, "stream_heavy_hitters")
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("user_id").isNotNull())
          .select("event_type", "event_id", item.alias("item")))
    in_dir = _stage_batches(
        f"{base}/in", [ev.repartitionByRange(3, "event_id")])
    src = read_parquet_stream(
        spark, in_dir, "event_type string, event_id long, item string")
    sketch = heavy_hitters_tracker(
        src.select("event_type", "item"),
        key="event_type", item_col="item", capacity=8)
    emitted = spark.read.parquet(_replay(sketch, base))
    from pyspark.sql.window import Window as W
    last = (emitted.withColumn(
        "__mx", F.max("seq").over(W.partitionBy("event_type")))
        .filter(F.col("seq") == F.col("__mx")))
    ev = (spark.read.parquet(f"{sf_dir}/events.parquet")
          .filter(F.col("user_id").isNotNull())
          .select("event_type", item.alias("item")))
    true = ev.groupBy("event_type", "item").agg(
        F.count(F.lit(1)).alias("__true"))
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("__n"))
    expect = (ev.select("event_type").distinct()
              .crossJoin(spark.createDataFrame(
                  [("heavy_0",), ("heavy_1",)], "item string")))
    return (
        expect.join(last.select("event_type", "item", "est"),
                    ["event_type", "item"], "left")
        .join(true, ["event_type", "item"])
        .join(F.broadcast(n), "event_type")
        .select(
            "event_type", "item",
            F.col("est").isNotNull().alias("in_sketch"),
            (F.col("est") <= F.col("__true")).alias("ok_upper"),
            (F.col("est") * 9 >= F.col("__true") * 9 - F.col("__n"))
            .alias("ok_lower"),
        )
        .orderBy("event_type", "item")
    )


@query("timeseries_residual_anomalies",
       oracle=_DECOMP_CTES + """,
res AS (SELECT d.event_type,
    round(round(CAST(d.yd AS DOUBLE), 6) - round(d.trend, 6)
          - round(seas.s, 6), 6) AS r
  FROM det d JOIN seas ON d.event_type = seas.event_type
                      AND d.phase = seas.phase),
med AS (SELECT event_type, round(quantile_cont(r, 0.5), 6) AS m
  FROM res GROUP BY event_type),
mad AS (SELECT res.event_type,
    round(quantile_cont(abs(res.r - med.m), 0.5), 6) AS mad
  FROM res JOIN med ON res.event_type = med.event_type
  GROUP BY res.event_type, med.m),
fl AS (SELECT res.event_type, med.m, mad.mad,
    CAST(abs(res.r - med.m) > 3 * 1.4826 * mad.mad AS INT) AS a
  FROM res
  JOIN med ON res.event_type = med.event_type
  JOIN mad ON res.event_type = mad.event_type)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
  MAX(m) AS med_resid, MAX(mad) AS mad_resid,
  CAST(SUM(a) AS BIGINT) AS n_anomalies
FROM fl GROUP BY event_type ORDER BY event_type
""")
def timeseries_residual_anomalies(spark, sf_dir):
    """Composition: `seasonal_decompose` residuals -> exact
    median/MAD -> 3σ-equivalent anomaly flags (the robust-statistics
    anomaly recipe: flag where |r − med| > 3·1.4826·MAD, the normal-
    consistency constant of `agg_robust_stats`). Detrending and
    deseasonalizing FIRST is what separates 'Friday spike' from
    'real incident'. Every stage is the already-proven exact
    machinery, so the composition replays end to end."""
    from ..operators.timeseries import seasonal_decompose

    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.withColumn("__d", F.col("ts").cast("date"))
        .groupBy("event_type", "__d")
        .agg((F.sum(F.col("value").cast("decimal(28,12)")).cast("double")
              / F.count(F.lit(1))).alias("y"))
        .select("event_type",
                F.datediff(F.col("__d"), F.lit("1970-01-01").cast("date"))
                .cast("long").alias("x"), "y")
    )
    dec_ = seasonal_decompose(daily, ["event_type"], "x", "y",
                              period=7, trend_window=7)
    res = dec_.select("event_type", F.col("residual").alias("r"))
    med = res.groupBy("event_type").agg(
        F.round(F.percentile("r", F.lit(0.5)), 6).alias("m"))
    mad = (res.join(F.broadcast(med), "event_type")
           .groupBy("event_type")
           .agg(F.round(F.percentile(
               F.abs(F.col("r") - F.col("m")), F.lit(0.5)), 6)
               .alias("mad")))
    fl = (res.join(F.broadcast(med), "event_type")
          .join(F.broadcast(mad), "event_type")
          .select("event_type", "m", "mad",
                  (F.abs(F.col("r") - F.col("m"))
                   > 3 * 1.4826 * F.col("mad")).cast("int").alias("a")))
    return (
        fl.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
             F.max("m").alias("med_resid"),
             F.max("mad").alias("mad_resid"),
             F.sum("a").cast("long").alias("n_anomalies"))
        .orderBy("event_type")
    )


@query("timeseries_kaplan_meier", oracle="""
WITH u AS (SELECT user_id,
    (epoch_us(MAX(CAST(ts AS TIMESTAMP)))
     - epoch_us(MIN(CAST(ts AS TIMESTAMP)))) // 3600000000 AS t,
    epoch_us(MAX(CAST(ts AS TIMESTAMP))) AS last_us
  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
mx AS (SELECT MAX(last_us) AS m FROM u),
s AS (SELECT u.t, (u.last_us <= mx.m - 86400000000) AS obs
      FROM u CROSS JOIN mx),
per_t AS (SELECT t, SUM(CAST(obs AS INT)) AS d,
    SUM(CAST(NOT obs AS INT)) AS c, COUNT(*) AS n
  FROM s GROUP BY t),
risk AS (SELECT *, SUM(n) OVER (ORDER BY t RANGE BETWEEN CURRENT ROW
    AND UNBOUNDED FOLLOWING) AS r FROM per_t),
curve AS (SELECT *,
    SUM(CASE WHEN d < r THEN CAST(round(
          ln(1.0 - CAST(d AS DOUBLE) / r), 9) AS DECIMAL(28,9)) END)
      OVER w AS lnsum,
    MAX(CASE WHEN d >= r THEN 1 ELSE 0 END) OVER w AS dead
  FROM risk
  WINDOW w AS (ORDER BY t RANGE BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW))
SELECT t, CAST(r AS BIGINT) AS n_at_risk, CAST(d AS BIGINT) AS n_events,
  CAST(c AS BIGINT) AS n_censored,
  CASE WHEN dead = 1 THEN 0.0
       ELSE round(exp(CAST(lnsum AS DOUBLE)), 6) END AS survival
FROM curve WHERE d > 0 ORDER BY t
""")
def timeseries_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier survival curve (`kaplan_meier`,
    operators/timeseries.py; 1958) over user activity lifespans:
    duration = first-to-last event HOURS (integer `div` on the µs
    epoch — the r9 rule), censored when the user was still active
    within 24 hours of the corpus horizon. (Round 9 re-grained the
    gate from days/1-week: on this corpus every user's last event sat
    within 2 days of the horizon, so the day-grain rule observed
    nobody and the gate matched vacuously on 0 rows at every SF; the
    hour grain yields a real observed/censored mix — 17/150 users,
    46 distinct times at sf0.01.) Integer risk sets; the product
    replays as exp of a decimal-snapped ln sum; an all-deaths time
    pins survival to exactly 0. The estimator a naive churn mean gets
    wrong."""
    from ..operators.timeseries import kaplan_meier

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.expr("(max(unix_micros(cast(ts as timestamp)))"
               " - min(unix_micros(cast(ts as timestamp))))"
               " div 3600000000").alias("t"),
        F.max(t_us).alias("last_us"))
    mx = u.agg(F.max("last_us").alias("m"))
    s = u.crossJoin(F.broadcast(mx)).select(
        "t",
        (F.col("last_us") <= F.col("m") - F.lit(86400000000)).alias("obs"))
    return kaplan_meier(s, "t", "obs")


def _markov_stationary_oracle(iters: int = 6) -> str:
    head = """
WITH seq AS (SELECT user_id, event_type,
    LEAD(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS next_type
  FROM events WHERE user_id IS NOT NULL),
c AS (SELECT event_type AS f, next_type AS t, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
tot AS (SELECT f, SUM(n) AS tn FROM c GROUP BY f),
p AS MATERIALIZED (SELECT c.f, c.t,
       CAST(round(CAST(c.n AS DOUBLE) / tot.tn, 9) AS DECIMAL(20,9)) AS pr
     FROM c JOIN tot ON c.f = tot.f),
states AS MATERIALIZED (SELECT DISTINCT f AS s FROM p),
ns AS (SELECT COUNT(*) AS n FROM states),
v0 AS MATERIALIZED (SELECT s,
       CAST(round(1.0 / (SELECT n FROM ns), 9) AS DECIMAL(20,9)) AS v
     FROM states)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
v{i} AS MATERIALIZED (
  SELECT p.t AS s,
    CAST(round(CAST(SUM(CAST(round(CAST(v{i-1}.v AS DOUBLE)
          * CAST(p.pr AS DOUBLE), 12) AS DECIMAL(28,12))) AS DOUBLE), 9)
      AS DECIMAL(20,9)) AS v
  FROM v{i-1} JOIN p ON p.f = v{i-1}.s
  JOIN states st ON st.s = p.t
  GROUP BY p.t)""")
    return (head + "," + ",".join(steps) + f"""
SELECT s AS state, round(CAST(v AS DOUBLE), 6) AS pi
FROM v{iters}
""")


@query("events_markov_stationary", oracle=_markov_stationary_oracle())
def events_markov_stationary(spark, sf_dir):
    """Stationary distribution of the event-type Markov chain (power
    iteration, 6 rounds — the chain-level summary on top of
    `events_transition_matrix`: where does user behavior SETTLE):
    transition probabilities snap to 9-dp decimals, each iteration's
    mass products snap to 12-dp decimals before the order-free sum
    (the PageRank float policy; oracle = unrolled MATERIALIZED CTEs,
    the HITS exponential-inlining lesson). Transitions into states
    with no outgoing row drop (absorbing boundary of the recurrent
    approximation). Every per-iteration frame is STATE-grain —
    bounded by the event-type vocabulary, not the event count."""
    from pyspark.sql.window import Window as W

    from ..plans import iterate

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(w).alias("t"))
    c = (seq.filter(F.col("t").isNotNull())
         .groupBy("f", "t").agg(F.count(F.lit(1)).alias("n")))
    tot = c.groupBy("f").agg(F.sum("n").alias("tn"))
    p = c.join(F.broadcast(tot), "f").select(
        "f", "t",
        F.round(F.col("n").cast("double") / F.col("tn"), 9)
        .cast("decimal(20,9)").alias("pr"),
    ).localCheckpoint()
    states = p.select(F.col("f").alias("s")).distinct().localCheckpoint()
    n_states = states.count()
    v = states.select(
        "s",
        F.round(F.lit(1.0) / F.lit(float(n_states)), 9)
        .cast("decimal(20,9)").alias("v"),
    )

    def step(v, _k):
        return (
            v.join(p, v["s"] == p["f"])
            .join(F.broadcast(states.select(F.col("s").alias("__t"))),
                  F.col("t") == F.col("__t"))
            .groupBy(F.col("t").alias("s2"))
            .agg(
                F.round(
                    F.sum(
                        F.round(
                            F.col("v").cast("double")
                            * F.col("pr").cast("double"), 12
                        ).cast("decimal(28,12)")
                    ).cast("double"), 9
                ).cast("decimal(20,9)").alias("v")
            )
            .select(F.col("s2").alias("s"), "v")
        )

    v = iterate(v, step, 6)
    return v.select(
        F.col("s").alias("state"),
        F.round(F.col("v").cast("double"), 6).alias("pi"),
    )


@query("events_collapse_adjacent", oracle="""
WITH s AS (SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
           FROM events WHERE user_id IS NOT NULL),
m AS (SELECT user_id, ts, event_id, event_type,
        CASE WHEN prev_type IS NULL OR prev_type <> event_type
             THEN 1 ELSE 0 END AS is_start
      FROM s),
r AS (SELECT user_id, event_type, ts, event_id,
        SUM(is_start) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS run_id
      FROM m)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type,
       CAST(COUNT(*) AS BIGINT) AS run_length,
       MIN(ts) AS run_start,
       CAST(MIN(event_id) AS BIGINT) AS first_event_id
FROM r GROUP BY user_id, run_id, event_type
""")
def events_collapse_adjacent(spark, sf_dir):
    """Run-length collapse of consecutive duplicate events — the
    gaps-and-islands idiom that turns a chatty sensor/click stream
    into distinct state VISITS (the prep step before funnel/session
    mining double-counts a button mash): one lag compare marks run
    starts, a running sum numbers runs, one keyed agg collapses each
    run to (type, length, start, first id). Two windows + one agg,
    all sharing the user-key exchange."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_start"),
    )
    runs = marked.withColumn(
        "run_id", F.sum("is_start").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)))
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("run_length"),
        F.min("ts").alias("run_start"),
        F.min("event_id").cast("long").alias("first_event_id"),
    ).select("user_id", F.col("run_id").cast("long").alias("run_id"),
             "event_type", "run_length", "run_start", "first_event_id")


@query("events_session_overlap_users", oracle="""
WITH s AS (SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                    - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
                        OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    > 1800000000
                   OR LAG(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_start
           FROM events WHERE user_id IS NOT NULL),
num AS (SELECT user_id, ts,
          SUM(is_start) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS sess
        FROM s),
spans AS (SELECT user_id, sess,
            epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS t0,
            epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS t1
          FROM num GROUP BY user_id, sess),
binned AS (SELECT DISTINCT user_id, sess, t0, t1,
             unnest(range(t0 // 3600000000, t1 // 3600000000 + 1)) AS b
           FROM spans),
pairs AS (SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b,
                 a.sess AS sess_a, b.sess AS sess_b
          FROM binned a JOIN binned b
            ON a.b = b.b AND a.user_id < b.user_id
           AND a.t0 <= b.t1 AND b.t0 <= a.t1)
SELECT user_a, user_b, CAST(COUNT(*) AS BIGINT) AS n_overlaps
FROM pairs GROUP BY user_a, user_b
""")
def events_session_overlap_users(spark, sf_dir):
    """Concurrent-session detection — which user pairs were active AT
    THE SAME TIME (the co-presence primitive behind fraud rings,
    shared-account detection, and collaboration graphs): 30-minute-gap
    sessionization, then the overlap join runs through HOUR-BUCKET
    blocking (each session lands in every hour it spans; pairs must
    share a bucket AND truly overlap; DISTINCT collapses multi-bucket
    double-counts) — never an all-pairs interval comparison. Counts
    overlapping session pairs per user pair. Integer microsecond
    arithmetic end to end (integer `div` for the bucket bounds — double
    division can round a ~1e15-µs quotient across an hour edge).

    Scale pre-flight (VERDICT r8 watch item): hour buckets concentrate
    in PEAK hours on real traffic — a bucket with b concurrent sessions
    contributes b² join rows. Fine at TPC-H-ish skew; on diurnal
    production traffic run `key_skew_stats` (operators/skew.py) on the
    bucket column first, and shrink the bucket width (hour → 5 min) or
    salt the peak buckets if the top bucket dominates."""
    from pyspark.sql.window import Window as W

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    s = ev.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | ((t - F.unix_micros(F.lag("ts").over(w).cast("timestamp")))
               > 1800 * 1000000),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("is_start"),
    )
    num = s.withColumn(
        "sess", F.sum("is_start").over(
            W.partitionBy("user_id").orderBy("ts", "event_id")
            .rowsBetween(W.unboundedPreceding, 0)))
    spans = num.groupBy("user_id", "sess").agg(
        F.unix_micros(F.min("ts").cast("timestamp")).alias("t0"),
        F.unix_micros(F.max("ts").cast("timestamp")).alias("t1"),
    )
    # integer `div`, not `/`: the double quotient of a ~1e15-µs epoch can
    # round across an integer boundary just below an hour edge, dropping a
    # bucket the DuckDB oracle's `//` keeps (ADVICE r8 #3)
    hour = 3600 * 1000000
    binned = spans.select(
        "user_id", "sess", "t0", "t1",
        F.explode(
            F.sequence(
                F.expr(f"t0 div {hour}L"),
                F.expr(f"t1 div {hour}L"),
            )
        ).alias("b"),
    ).distinct()
    a = binned.select(
        F.col("user_id").alias("user_a"), F.col("sess").alias("sess_a"),
        F.col("t0").alias("a0"), F.col("t1").alias("a1"), "b")
    bb = binned.select(
        F.col("user_id").alias("user_b"), F.col("sess").alias("sess_b"),
        F.col("t0").alias("b0"), F.col("t1").alias("b1"), "b")
    pairs = (
        a.join(bb, "b")
        .filter(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("a0") <= F.col("b1")) & (F.col("b0") <= F.col("a1")))
        .select("user_a", "user_b", "sess_a", "sess_b")
        .distinct()
    )
    return pairs.groupBy("user_a", "user_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"))
