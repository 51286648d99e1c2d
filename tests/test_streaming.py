"""Structured Streaming semantics: the streaming ops must reproduce their
batch twins when the stream is replayed to completion (batch-replay
equivalence, SURVEY §5), plus watermark/late-data behavior."""

import shutil
import tempfile
import os

import pytest
from pyspark.sql import functions as F

from puffbird_spark.sources import load_table, normalize_nano_ts
from puffbird_spark.streaming import (
    read_parquet_stream,
    session_agg,
    stream_static_join,
    streaming_dedup,
    tumbling_agg,
    write_foreach_batch,
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="pbs-stream-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _stage_events(sf_dir, tmpdir):
    """Streaming file source needs a directory: stage the single parquet
    file into one."""
    d = f"{tmpdir}/events_in"
    os.makedirs(d, exist_ok=True)
    shutil.copy(f"{sf_dir}/events.parquet", f"{d}/events.parquet")
    return d


def _run_to_completion(stream_df, tmpdir, output_mode="update"):
    """Drain an availableNow stream through foreachBatch into a list."""
    batches = []

    def sink(df, epoch_id):
        batches.append(df.collect())

    q = write_foreach_batch(
        stream_df, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode=output_mode,
    ).start()
    q.awaitTermination(120)
    return [r for b in batches for r in b]


def test_tumbling_stream_equals_batch(spark, sf_dir, tmpdir):
    batch = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_nano_ts(
        read_parquet_stream(spark, _stage_events(sf_dir, tmpdir), raw.schema),
        ["ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = _run_to_completion(
        tumbling_agg(stream, ts_col="ts", window="1 hour",
                     watermark="2 hours", keys=["event_type"]),
        tmpdir,
    )
    got = {(r["win_start"], r["event_type"]): r["n"] for r in rows}
    expected_df = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
    )
    expected = {(r["ws"], r["event_type"]): r["n"] for r in expected_df.collect()}
    assert got == expected


def test_session_stream_equals_batch(spark, sf_dir, tmpdir):
    batch = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_nano_ts(
        read_parquet_stream(spark, _stage_events(sf_dir, tmpdir), raw.schema),
        ["ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    rows = _run_to_completion(
        session_agg(stream, ts_col="ts", gap="15 minutes",
                    watermark="2 hours", keys=["user_id"]),
        tmpdir,
        output_mode="append",  # session windows do not support update mode
    )
    got = {(r["user_id"], r["w"]["start"]): r["n_events"] for r in rows}
    expected_df = (
        batch.groupBy("user_id", F.session_window("ts", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    expected_all = {(r["user_id"], r["w"]["start"]): (r["n_events"], r["w"]["end"])
                    for r in expected_df.collect()}
    # append mode only emits sessions closed before the final watermark
    # (max event time - 2h); trailing sessions legitimately stay in state
    from datetime import timedelta
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - timedelta(hours=2)
    expected = {k: n for k, (n, end) in expected_all.items() if end < horizon}
    assert got == expected


def test_streaming_dedup(spark, tmpdir):
    src = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")],
        ["user_id", "event_type"],
    ).withColumn("ts", F.current_timestamp())
    src.write.parquet(f"{tmpdir}/in")
    batch = spark.read.parquet(f"{tmpdir}/in")
    stream = read_parquet_stream(spark, f"{tmpdir}/in", batch.schema)
    rows = _run_to_completion(
        streaming_dedup(stream, keys=["user_id", "event_type"],
                        ts_col="ts", watermark="1 hour"),
        tmpdir,
    )
    assert sorted((r["user_id"], r["event_type"]) for r in rows) == [
        (1, "a"), (2, "b"),
    ]


def test_stream_static_join(spark, sf_dir, tmpdir):
    events = load_table(spark, sf_dir, "events")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_nano_ts(
        read_parquet_stream(spark, _stage_events(sf_dir, tmpdir), raw.schema),
        ["ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    enriched = stream_static_join(
        stream.filter(F.col("event_type") == "purchase"),
        customer,
        stream["user_id"] == customer["c_custkey"],
    ).select("event_id", "c_name")
    rows = _run_to_completion(enriched, tmpdir)
    expected = (
        events.filter(F.col("event_type") == "purchase")
        .join(customer, events["user_id"] == customer["c_custkey"])
        .count()
    )
    assert len(rows) == expected


def test_stateful_running_count_across_batches(spark, sf_dir, tmpdir):
    """applyInPandasWithState: keyed state must survive micro-batches —
    two copies of the events file, one per trigger, so the final emission
    per user equals 2x the single-file count."""
    import shutil as _sh
    from puffbird_spark.streaming.stateful import running_count

    d = f"{tmpdir}/events_twice"
    os.makedirs(d, exist_ok=True)
    _sh.copy(f"{sf_dir}/events.parquet", f"{d}/a.parquet")
    _sh.copy(f"{sf_dir}/events.parquet", f"{d}/b.parquet")

    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_nano_ts(
        read_parquet_stream(spark, d, raw.schema, max_files_per_trigger=1),
        ["ts"],
    )
    batches = []

    def sink(df, epoch_id):
        batches.append((epoch_id, df.collect()))

    q = write_foreach_batch(
        running_count(stream, key="user_id"), sink,
        checkpoint=f"{tmpdir}/ckpt-state", trigger_once=True,
        output_mode="update",
    ).start()
    q.awaitTermination(180)

    assert len(batches) >= 2  # one micro-batch per file
    finals = {}
    for _, rows in batches:
        for r in rows:
            finals[r["user_id"]] = r["total"]
    single = {r["user_id"]: r["n"] for r in
              spark.read.parquet(f"{sf_dir}/events.parquet")
              .groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert finals == {u: 2 * n for u, n in single.items()}


def test_stream_stream_outer_join_evicts_and_withholds(spark, tmpdir):
    """Left-outer interval join: unmatched left rows emit ONCE the
    watermark proves no match can come; trailing rows stay in state."""
    import datetime as dt

    T = dt.datetime
    base = T(2024, 1, 1, 0, 0)

    def ts(minutes):
        return base + dt.timedelta(minutes=minutes)

    # left stream: L1 matches, L2 unmatched-old (evicts), L3
    # unmatched-recent (held in state: within watermark horizon)
    left_rows = [(1, 10, ts(0)), (1, 11, ts(5)), (2, 12, ts(500))]
    right_rows = [(1, 20, ts(3)), (9, 21, ts(520))]
    for name, rows in [("l", left_rows), ("r", right_rows)]:
        spark.createDataFrame(rows, ["k", "id", "ts"]).coalesce(1) \
            .write.parquet(f"{tmpdir}/{name}_in")

    def read(name):
        return (
            spark.readStream
            .schema("k long, id long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{tmpdir}/{name}_in")
            .withWatermark("ts", "10 minutes")
        )

    lf = read("l").select(F.col("k").alias("lk"), F.col("id").alias("lid"),
                          F.col("ts").alias("lts"))
    rf = read("r").select(F.col("k").alias("rk"), F.col("id").alias("rid"),
                          F.col("ts").alias("rts"))
    joined = lf.join(
        rf,
        (F.col("lk") == F.col("rk"))
        & (F.col("rts") >= F.col("lts"))
        & (F.col("rts") <= F.col("lts") + F.expr("INTERVAL 4 MINUTES")),
        "left_outer",
    ).select("lid", "rid")

    out = f"{tmpdir}/out"

    def sink(df, epoch_id):
        df.write.mode("append").parquet(out)

    q = write_foreach_batch(
        joined, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q.awaitTermination(120)

    got = {(r["lid"], r["rid"]) for r in spark.read.parquet(out).collect()}
    # watermark = min(500, 520) - 10 = 490min. L1 (t=0) matched; L2
    # (t=5, horizon 9 < 490) evicts unmatched; L3 (t=500, horizon
    # 504 >= 490) is withheld in state.
    assert got == {(10, 20), (11, None)}


def test_session_tracker_spans_batch_boundary(spark, tmpdir):
    """A session split across two micro-batches must NOT close at the
    boundary — state carries it; only true gaps close sessions, and
    the final open session stays unemitted."""
    from puffbird_spark.streaming.stateful import session_tracker

    M = 60 * 1_000_000  # one minute in micros
    b1 = [(1, 10, 0 * M), (1, 11, 5 * M),            # session A starts
          (2, 20, 0 * M)]                            # u2 session starts
    b2 = [(1, 12, 7 * M),                            # continues A
          (1, 13, 60 * M),                           # gap>15m: closes A
          (2, 21, 90 * M)]                           # gap: closes u2's
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i, rows in enumerate([b1, b2]):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        # flat, lexicographically ordered file names pin batch order
        shutil.copy(f"{tmp}/{part}", f"{tmpdir}/in/b{i}.parquet")

    src = (spark.readStream
           .schema("user_id long, event_id long, ts_us long")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    out = session_tracker(src, gap_sec=900)

    from puffbird_spark.streaming import write_foreach_batch

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out")
                     .select("user_id", "session_start_us",
                             "session_end_us", "n_events").collect()))
    # u1: session A = events at 0,5,7 min (3 events, SPANS the batch
    # boundary); u2: single-event session at 0. The two sessions opened
    # by the last events (60m, 90m) stay in state, unemitted.
    assert got == [(1, 0, 7 * M, 3), (2, 0, 0, 1)]


def test_session_tracker_restarts_from_checkpoint(spark, tmpdir):
    """A query restarted on an existing checkpoint resumes where the
    last run stopped: its state (an open session spanning the restart)
    and its seen-file log carry over, so two runs over b0 then b1 emit
    exactly what one run over both files emits, and a third run with no
    new file adds nothing."""
    from puffbird_spark.streaming import write_foreach_batch
    from puffbird_spark.streaming.stateful import session_tracker

    M = 60 * 1_000_000  # one minute in micros
    schema = "user_id long, event_id long, ts_us long"
    b0 = [(1, 10, 0 * M), (1, 11, 5 * M), (2, 20, 0 * M),
          (3, 30, 0 * M), (3, 31, 30 * M)]   # u3's gap closes in b0
    b1 = [(1, 12, 7 * M), (1, 13, 60 * M), (2, 21, 90 * M)]
    staged = []
    for i, rows in enumerate([b0, b1]):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        staged.append(f"{tmp}/{part}")

    def run(name):
        src = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/{name}"))

        def sink(df, epoch_id):
            df.write.mode("append").parquet(f"{tmpdir}/{name}_out")

        q = write_foreach_batch(
            session_tracker(src, gap_sec=900), sink,
            checkpoint=f"{tmpdir}/{name}_ckpt", trigger_once=True,
            output_mode="append").start()
        q.awaitTermination(120)
        q.stop()
        return sorted(map(tuple, spark.read.parquet(f"{tmpdir}/{name}_out")
                          .select("user_id", "session_start_us",
                                  "session_end_us", "n_events").collect()))

    for name, files in (("once", [0, 1]), ("restart", [0])):
        os.makedirs(f"{tmpdir}/{name}", exist_ok=True)
        for i in files:
            shutil.copy(staged[i], f"{tmpdir}/{name}/b{i}.parquet")
    once = run("once")
    assert run("restart") == [(3, 0, 0, 1)]
    shutil.copy(staged[1], f"{tmpdir}/restart/b1.parquet")
    assert run("restart") == once == [
        (1, 0, 7 * M, 3), (2, 0, 0, 1), (3, 0, 0, 1)]
    assert run("restart") == once


def test_checkpoint_file_manager_is_filesystem_based(spark, tmpdir):
    """get_spark routes streaming checkpoints through Hadoop FileSystem:
    FileContext's local filesystem forks readlink/chmod processes per
    checkpoint file when Hadoop's native library is absent."""
    jvm = spark._jvm
    pkg = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = pkg.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(f"file://{tmpdir}/ckpt"),
        spark._jsparkSession.sessionState().newHadoopConf())
    assert manager.getClass().getSimpleName() == (
        "FileSystemBasedCheckpointFileManager")


def test_session_tracker_processing_time_timeout(spark, tmpdir):
    """ADVICE r6 (medium): with ``timeout_ms`` set, an idle key's open
    session must be FLUSHED by the processing-time timeout (empty batch
    iterator + hasTimedOut), not crash pd.concat or stay stuck in state.

    NOTE: no ``processAllAvailable`` here — with ProcessingTimeTimeout
    the engine keeps scheduling (empty) batches so timeouts can fire,
    and processAllAvailable never returns in that mode; the test polls
    the sink with a deadline instead."""
    import time

    from puffbird_spark.streaming.stateful import session_tracker

    M = 60 * 1_000_000
    in_dir = f"{tmpdir}/in"
    os.makedirs(in_dir, exist_ok=True)
    tmp = f"{tmpdir}/stage_b0"
    spark.createDataFrame(
        [(1, 10, 0 * M), (1, 11, 5 * M)],       # key 1 opens a session
        "user_id long, event_id long, ts_us long"
    ).coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    shutil.copy(f"{tmp}/{part}", f"{in_dir}/b0.parquet")

    src = (spark.readStream
           .schema("user_id long, event_id long, ts_us long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = session_tracker(src, gap_sec=900, timeout_ms=1000)

    from puffbird_spark.streaming import write_foreach_batch

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = (write_foreach_batch(
            out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=False,
            output_mode="append")
         .trigger(processingTime="1 second").start())
    got = []
    try:
        deadline = time.time() + 120
        while time.time() < deadline and not got:
            if q.exception() is not None:
                raise q.exception()
            if os.path.isdir(f"{tmpdir}/out"):
                try:
                    got = sorted(map(tuple, spark.read.parquet(
                        f"{tmpdir}/out")
                        .select("user_id", "session_start_us",
                                "session_end_us", "n_events").collect()))
                except Exception:
                    got = []
            time.sleep(1)
        # VERDICT r7 #6: the flush must happen exactly ONCE — state was
        # removed on eviction, so further engine-scheduled empty batches
        # must not re-emit the session. Poll a few more trigger cycles
        # and assert the sink still holds the single row.
        if got:
            settle = time.time() + 5
            while time.time() < settle:
                if q.exception() is not None:
                    raise q.exception()
                time.sleep(1)
            got = sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out")
                             .select("user_id", "session_start_us",
                                     "session_end_us", "n_events")
                             .collect()))
    finally:
        q.stop()
    # key 1's open session (0..5min, 2 events) was flushed by the
    # processing-time timeout, in an engine-scheduled EMPTY batch —
    # and only once.
    assert got == [(1, 0 * M, 5 * M, 2)]


def test_running_count_timeout_evicts_state(spark, tmpdir):
    """VERDICT r7 #6 (replay case): a running_count key that times out
    must have its state DROPPED silently (empty iterator, no emission,
    no crash) — proven by a later event for the same key restarting the
    count at 1 instead of continuing at 3."""
    import time

    from puffbird_spark.streaming import write_foreach_batch
    from puffbird_spark.streaming.stateful import running_count

    in_dir = f"{tmpdir}/in"
    os.makedirs(in_dir, exist_ok=True)

    def stage(name, rows):
        tmp = f"{tmpdir}/stage_{name}"
        spark.createDataFrame(rows, "user_id long").coalesce(1) \
            .write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(f"{tmp}/{part}", f"{in_dir}/{name}.parquet")

    stage("b0", [(1,), (1,)])
    src = (spark.readStream.schema("user_id long")
           .option("maxFilesPerTrigger", 1).parquet(in_dir))
    out = running_count(src, key="user_id", timeout_ms=1000)

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = (write_foreach_batch(
            out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=False,
            output_mode="update")
         .trigger(processingTime="1 second").start())

    def read_totals():
        if not os.path.isdir(f"{tmpdir}/out"):
            return []
        try:
            return sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out")
                              .select("user_id", "total").collect()))
        except Exception:
            return []

    try:
        deadline = time.time() + 120
        while time.time() < deadline and (1, 2) not in read_totals():
            if q.exception() is not None:
                raise q.exception()
            time.sleep(1)
        assert (1, 2) in read_totals()
        # let the 1s timeout fire in the empty trigger cycles, then
        # send one more event for the same key
        time.sleep(4)
        stage("b1", [(1,)])
        deadline = time.time() + 120
        while time.time() < deadline and (1, 1) not in read_totals():
            if q.exception() is not None:
                raise q.exception()
            time.sleep(1)
    finally:
        q.stop()
    totals = read_totals()
    # count restarted at 1 after eviction — state was truly dropped;
    # a surviving state would have produced (1, 3)
    assert (1, 1) in totals and (1, 3) not in totals


def test_ohlc_stream_equals_batch(spark, sf_dir, tmpdir):
    """OHLC candlesticks stream: the struct-extremum open/close trick
    is a plain min/max aggregate, so the SAME expressions run under a
    watermarked streaming groupBy(window) — replayed to completion
    they must equal the batch `ohlc_bars` bar-for-bar (including the
    order-sensitive open/close, the part a naive first()/last() gets
    nondeterministically wrong in either engine)."""
    from puffbird_spark.operators.timeseries import ohlc_bars

    batch = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp"))
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = normalize_nano_ts(
        read_parquet_stream(spark, _stage_events(sf_dir, tmpdir), raw.schema),
        ["ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    s_agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min(F.struct("ts", "value")).getField("value").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.struct("ts", "value")).getField("value").alias("close"),
            F.count(F.lit(1)).alias("n_obs"),
        )
        .select(F.col("w.start").alias("bucket_start"), "event_type",
                "open", "high", "low", "close", "n_obs")
    )
    rows = _run_to_completion(s_agg, tmpdir)
    got = {(r["bucket_start"], r["event_type"]):
           (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
           for r in rows}
    expected = {(r["bucket_start"], r["key"]):
                (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
                for r in ohlc_bars(
                    batch, "event_type", "ts", "value", "1 hour").collect()}
    assert got == expected


def test_heavy_hitters_tracker_merge_rule(spark, tmpdir):
    """Misra-Gries streaming summary: hand-replayed two-batch merge at
    capacity 2 — eviction subtracts the (cap+1)-th count, state
    carries across the boundary, and estimates stay in the envelope."""
    from puffbird_spark.streaming import write_foreach_batch
    from puffbird_spark.streaming.stateful import heavy_hitters_tracker

    b1 = [("k", x) for x in
          ["a", "a", "a", "b", "b", "c"]]          # -> {a:2, b:1} after t=1
    b2 = [("k", "c")] * 4                          # -> {c:3, a:1} after t=1
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i, rows in enumerate([b1, b2]):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(rows, "g string, item string") \
            .coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(f"{tmp}/{part}", f"{tmpdir}/in/b{i}.parquet")

    src = (spark.readStream.schema("g string, item string")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    out = heavy_hitters_tracker(src, key="g", item_col="item", capacity=2)

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True).start()
    q.awaitTermination(120)

    got = spark.read.parquet(f"{tmpdir}/out").collect()
    by_seq = {}
    for r in got:
        by_seq.setdefault(r.seq, {})[r.item] = (r.est, r.n_total)
    assert by_seq[1] == {"a": (2, 6), "b": (1, 6)}
    assert by_seq[2] == {"c": (3, 10), "a": (1, 10)}


def test_tws_counter_matches_classic_api(spark, tmpdir):
    """The Spark-4 transformWithStateInPandas counter must agree with
    the applyInPandasWithState twin — SKIPPED where the new API's
    protobuf runtime dependency is absent (this container)."""
    import pytest

    from puffbird_spark.streaming.stateful import (
        running_count_tws, tws_available)

    if not tws_available():
        pytest.skip("transformWithStateInPandas needs google.protobuf")
    from puffbird_spark.streaming import write_foreach_batch

    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    spark.createDataFrame([(1,), (1,), (2,)], "user_id long") \
        .coalesce(1).write.parquet(f"{tmpdir}/stage")
    part = next(f for f in os.listdir(f"{tmpdir}/stage")
                if f.endswith(".parquet"))
    shutil.copy(f"{tmpdir}/stage/{part}", f"{tmpdir}/in/b0.parquet")
    src = (spark.readStream.schema("user_id long")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    tot = running_count_tws(src, key="user_id")

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        tot, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True).start()
    q.awaitTermination(120)
    got = {r.user_id: r.total
           for r in spark.read.parquet(f"{tmpdir}/out").collect()}
    assert got == {1: 2, 2: 1}


def test_session_tracker_late_event_cannot_regress_session_end(spark, tmpdir):
    """r11 out-of-order probe: a late event arriving in a LATER batch
    (violating the documented per-key batch monotonicity) used to set
    ``last = ts`` backwards, so the next on-time event measured its gap
    against the regressed end and split a phantom session. The min/max
    clamps fold the late event in without moving the session end back;
    in-order input is untouched (clamps are identities there)."""
    from puffbird_spark.streaming.stateful import session_tracker

    M = 60 * 1_000_000
    b1 = [(1, 10, 0 * M), (1, 11, 10 * M)]           # open [0, 10m]
    b2 = [(1, 12, 2 * M),                            # LATE (before 10m)
          (1, 13, 20 * M),                           # 10m gap: folds in
          (1, 14, 40 * M)]                           # 20m gap: closes
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i, rows in enumerate([b1, b2]):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts_us long"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(f"{tmp}/{part}", f"{tmpdir}/in/b{i}.parquet")

    src = (spark.readStream
           .schema("user_id long, event_id long, ts_us long")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    out = session_tracker(src, gap_sec=900)

    from puffbird_spark.streaming import write_foreach_batch

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q.awaitTermination(120)

    got = sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out")
                     .select("user_id", "session_start_us",
                             "session_end_us", "n_events").collect()))
    # one session [0, 20m] of 4 events (0, 10m, the late 2m, 20m); the
    # unclamped code emitted a phantom (0, 2m, 3) instead. The 40m
    # opener stays in state, unemitted.
    assert got == [(1, 0, 20 * M, 4)]


def test_ttl_inactivity_tracker_event_time_eviction(spark, tmpdir):
    """Event-time TTL eviction is DETERMINISTIC under replay: a key
    silent past the TTL (by watermark, not wall clock) emits exactly
    one expiry row with its final state; still-active keys and keys
    whose TTL the watermark has not yet passed emit nothing."""
    import datetime

    from puffbird_spark.streaming.stateful import ttl_inactivity_tracker

    def ts(minutes):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            minutes=minutes)

    M = 60 * 1_000_000  # one minute in micros
    # TTL 30 min, watermark delay 0:
    #  b0: u1 @ 0,5m; u2 @ 0m          -> wm after b0 = 5m
    #  b1: u2 @ 60m                    -> wm after b1 = 60m
    #  b2: u3 @ 70m                    -> b2 SEES wm 60m > u1's
    #      last(5m)+TTL(30m) = 35m     -> u1 expires in b2
    # u2's timeout (60m+30m) and u3's (70m+30m) stay ahead of the
    # final watermark, so neither expires.
    b0 = [(1, ts(0)), (1, ts(5)), (2, ts(0))]
    b1 = [(2, ts(60))]
    b2 = [(3, ts(70))]
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i, rows in enumerate([b0, b1, b2]):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(
            rows, "user_id long, ts timestamp"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(f"{tmp}/{part}", f"{tmpdir}/in/b{i}.parquet")

    src = (spark.readStream
           .schema("user_id long, ts timestamp")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    out = ttl_inactivity_tracker(src, ttl_sec=30 * 60)

    from puffbird_spark.streaming import write_foreach_batch

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q.awaitTermination(120)

    got = [tuple(r) for r in spark.read.parquet(f"{tmpdir}/out")
           .select("user_id", "first_seen_us", "last_seen_us",
                   "n_events").collect()]
    # exactly one expiry: u1, final state (first @0, last @5m, 2 events)
    base = int(ts(0).replace(
        tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000
    assert got == [(1, base, base + 5 * M, 2)]
    # replay determinism: a second identical run emits the same row
    import shutil as _sh
    _sh.rmtree(f"{tmpdir}/ckpt"); _sh.rmtree(f"{tmpdir}/out")
    q2 = write_foreach_batch(
        ttl_inactivity_tracker(src, ttl_sec=30 * 60), sink,
        checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q2.awaitTermination(120)
    got2 = [tuple(r) for r in spark.read.parquet(f"{tmpdir}/out")
            .select("user_id", "first_seen_us", "last_seen_us",
                    "n_events").collect()]
    assert got2 == got


def test_ttl_inactivity_tracker_string_key(spark, tmpdir):
    """The output key column derives its type from the INPUT schema
    (ADVICE r11: it was hardcoded `long`): a string device id streams
    through the same eviction path with no Arrow schema mismatch."""
    import datetime

    from puffbird_spark.streaming import write_foreach_batch
    from puffbird_spark.streaming.stateful import ttl_inactivity_tracker

    def ts(minutes):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            minutes=minutes)

    batches = [[("dev-a", ts(0)), ("dev-b", ts(0))],
               [("dev-b", ts(60))],
               [("dev-c", ts(70))]]
    os.makedirs(f"{tmpdir}/in", exist_ok=True)
    for i, rows in enumerate(batches):
        tmp = f"{tmpdir}/stage{i}"
        spark.createDataFrame(
            rows, "device string, ts timestamp"
        ).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.copy(f"{tmp}/{part}", f"{tmpdir}/in/b{i}.parquet")

    src = (spark.readStream
           .schema("device string, ts timestamp")
           .option("maxFilesPerTrigger", 1).parquet(f"{tmpdir}/in"))
    out = ttl_inactivity_tracker(src, key="device", ttl_sec=30 * 60)
    assert out.schema["device"].dataType.simpleString() == "string"

    def sink(df, epoch_id):
        df.write.mode("append").parquet(f"{tmpdir}/out")

    q = write_foreach_batch(
        out, sink, checkpoint=f"{tmpdir}/ckpt", trigger_once=True,
        output_mode="append").start()
    q.awaitTermination(120)
    got = [(r["device"], r["n_events"]) for r in
           spark.read.parquet(f"{tmpdir}/out").collect()]
    assert got == [("dev-a", 1)]


_STREAM_GATES = [
    "stream_foreach_batch", "stream_stateful_count", "stream_state_ttl",
    "stream_stream_join", "stream_incremental_dedup",
    "stream_stream_outer_join", "stream_psi_monitor", "stream_sessionize",
    "stream_exactly_once_sink", "stream_heavy_hitters",
]


@pytest.mark.parametrize("name", _STREAM_GATES)
def test_stream_gate_matches_oracle(spark, sf_dir, name):
    """Each streaming gate's replayed sink equals its DuckDB oracle. The
    sessionize, outer-join and heavy-hitter results depend on the batch
    order the gates' staging sets."""
    import duckdb

    from puffbird_spark.queries import ORACLES, QUERIES
    from tools.check_oracle import TABLES, canonical_rows

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    got = QUERIES[name](spark, sf_dir).toPandas()
    want = con.sql(ORACLES[name]).df()
    assert sorted(got.columns) == sorted(want.columns)
    assert len(want) > 0
    assert canonical_rows(got) == canonical_rows(want)


@pytest.mark.parametrize("gate, operator", [
    ("stream_state_ttl",
     "puffbird_spark.streaming.stateful.ttl_inactivity_tracker"),
    ("sink_compact_small_files",
     "puffbird_spark.operators.layout.compact_small_files"),
    ("sink_training_shards",
     "puffbird_spark.operators.layout.write_training_shards"),
])
def test_gate_reruns_its_operator(spark, sf_dir, monkeypatch, gate, operator):
    """A gate runs its operator on every call: once the operator raises,
    a second call raises too instead of reading the first call's files
    back (the gates import their operator at call time)."""
    from puffbird_spark.queries import QUERIES

    QUERIES[gate](spark, sf_dir).collect()

    def broken(*args, **kwargs):
        raise RuntimeError("operator ran")

    monkeypatch.setattr(operator, broken)
    with pytest.raises(RuntimeError, match="operator ran"):
        QUERIES[gate](spark, sf_dir)
