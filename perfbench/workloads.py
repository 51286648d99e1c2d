"""The benchmark's workloads: which gates run, on what inputs, and how
each result is forced.

A workload is a list of steps run in order as one *pass*. A step is a
registered gate (``puffbird_spark.queries``) forced by collecting its
result, or one of two drivers that call the public functions directly
because the gates cache their first result on disk: the training-shard
sink and the streaming session replay. Every step's output is compared
with the registry's DuckDB oracle named by ``Step.oracle``.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass
class Step:
    name: str
    oracle: str  # key into puffbird_spark.queries.ORACLES
    run: Callable  # (ctx) -> pandas.DataFrame


def _gate(name: str) -> Step:
    def run(ctx):
        df = ctx.queries[name](ctx.spark, ctx.data_dir)
        ctx.frames[name] = df
        with ctx.tracer.span("action.toPandas", "action"):
            return df.toPandas()
    return Step(name, name, run)


def _training_shards(ctx):
    """``operators.layout.write_training_shards`` into a fresh directory,
    read back and summarized as the ``sink_training_shards`` gate does."""
    from pyspark.sql import functions as F

    from puffbird_spark.operators.layout import write_training_shards
    from puffbird_spark.sources import load_table

    path = ctx.fresh_dir("shards")
    docs = load_table(ctx.spark, ctx.data_dir, "documents").select("doc_id", "text")
    write_training_shards(docs, path, key="doc_id", n_shards=8, seed="shard")
    back = ctx.spark.read.parquet(path).groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("shuffle_rank").cast("long").alias("min_rank"),
        F.max("shuffle_rank").cast("long").alias("max_rank"),
        F.min(((F.col("shuffle_rank") - 1) % 8) == F.col("shard")).alias("round_robin_ok"),
    )
    with ctx.tracer.span("action.toPandas", "action"):
        return back.toPandas()


def _stream_replay(ctx):
    """Replay the staged event files with ``availableNow`` through
    ``streaming.stateful.session_tracker`` into a fresh
    ``streaming.snapshot_epoch_sink`` table, one file per micro-batch,
    then read the table back."""
    from puffbird_spark.operators.layout import read_snapshot
    from puffbird_spark.streaming import snapshot_epoch_sink, write_foreach_batch
    from puffbird_spark.streaming.stateful import session_tracker

    base = ctx.fresh_dir("stream")
    table = os.path.join(base, "table")
    src = (ctx.spark.readStream.schema("user_id long, event_id long, ts_us long")
           .option("maxFilesPerTrigger", 1)
           .parquet(os.path.join(ctx.data_dir, "stream")))
    sessions = session_tracker(src, key="user_id", ts_us_col="ts_us",
                               tiebreak_col="event_id", gap_sec=900)
    sink = snapshot_epoch_sink(table)
    sink_s = []

    def timed_sink(df, epoch_id):
        t0 = time.perf_counter()
        sink(df, epoch_id)
        sink_s.append(time.perf_counter() - t0)

    q = write_foreach_batch(sessions, timed_sink, checkpoint=os.path.join(base, "ckpt"),
                            trigger_once=True, output_mode="append").start()
    try:
        q.awaitTermination(120)
    finally:
        if q.isActive:
            q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    progress = q.recentProgress
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    ctx.stream_stats.append({
        "batch_s": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
        "sink_s": sink_s,
        "state_rows": state.get("numRowsTotal", 0),
        "state_mb": state.get("memoryUsedBytes", 0) / 2**20,
    })
    out = read_snapshot(ctx.spark, table).select(
        "user_id", "session_start_us", "session_end_us", "n_events")
    with ctx.tracer.span("action.toPandas", "action"):
        return out.toPandas()


@dataclass
class Workload:
    name: str
    why: str
    tables: list[str]  # the tables the steps read, for input_rows_per_s
    steps: list[Step] = field(default_factory=list)


WORKLOADS = {w.name: w for w in [
    Workload(
        "relational_scan",
        "JVM data path, no Python stages: scans, shuffle joins, windows, the "
        "nest/explode round trip, MERGE and a parquet sink",
        tables=["lineitem", "orders", "customer", "documents"],
        steps=[_gate(g) for g in [
            "q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
            "q18_large_volume_customers", "window_rank", "engine_to_long_roundtrip",
            "explode_tokens", "merge_upsert_customers"]]
        + [Step("training_shards", "sink_training_shards", _training_shards)],
    ),
    Workload(
        "llm_iterative",
        "Python/Arrow kernels and job-count-bound loops: sparse top-k, Zipf fit, "
        "decontamination, keywords, embedding scaling, MinHash dedup resolved by "
        "checkpointed rounds, a stateful stream replay",
        tables=["lineitem", "documents", "embeddings", "events"],
        # at least one gate per operator layer: similarity (profile_topk_sparse),
        # profile (text_zipf), decontam, retrieval (text_rake_keywords),
        # clustering (embedding_standardize), dedup and graph (dedup_clusters:
        # MinHash-LSH pairs, then connected-components rounds)
        steps=[_gate(g) for g in [
            "profile_topk_sparse", "text_zipf", "text_decontaminate",
            "text_rake_keywords", "embedding_standardize", "dedup_clusters"]]
        + [Step("stream_replay", "stream_sessionize", _stream_replay)],
    ),
]}
