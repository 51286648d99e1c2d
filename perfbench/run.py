"""puffbird_spark benchmark: one workload as a closed loop from one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One run:

1. generates the workload's inputs from ``--seed`` (``perfbench/gen.py``,
   in a subprocess, outside every timed window);
2. sets up one ``local[N]`` session, N = the CPUs this process may use,
   with shuffle partitions at 2N; set-up is timed in four phases: imports,
   session start, JVM warm-up and the Python worker fleet; then it
   evaluates each step's DuckDB oracle over the generated inputs;
3. runs the workload's steps one after another as a *pass*: a cold pass,
   then warm passes until ``--seconds`` have elapsed (at least one);
   between passes, outside the timed windows, it releases pinned blocks
   and keeps the Python worker fleet alive;
4. checks every output against its oracle: columns and row count on every
   pass, every value on the cold and the last pass (a raise or a mismatch
   counts as failed);
5. writes a record (host, inputs, per-pass timings, kernel choices) to
   ``perfbench/_out/<workload>-s<seed>-t<trace>/record.json`` and prints
   one JSON line as the last line of stdout.

With ``--trace 0`` the line holds the end-to-end metrics; with
``--trace 1`` the run wraps the layers' public functions in spans
(``perfbench/tracing.py``) and the line holds the per-layer metrics.
End-to-end numbers come only from untraced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
MIN_WARM_PASSES = 1


class Ctx:
    """What a step needs: the session, the registry, the inputs, and a
    fresh directory for every write target."""

    def __init__(self, spark, queries, data_dir, work_dir, tracer):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.stream_stats: list[dict] = []
        self.frames: dict = {}
        self._n = 0

    def fresh_dir(self, kind: str) -> str:
        self._n += 1
        return os.path.join(self.work_dir, f"{kind}-{self._n}")


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - platforms without affinity
        return os.cpu_count() or 1


def prepare(seed: int, data_dir: str) -> dict:
    """Generate the inputs in a child process; return rows and bytes per table."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--seed", str(seed),
         "--out", data_dir],
        check=True, cwd=ROOT, timeout=120)
    with open(os.path.join(data_dir, "sizes.json")) as fh:
        return json.load(fh)


def oracle_results(data_dir: str, names: set[str]) -> dict:
    """Each named registry oracle, run by DuckDB over the generated tables:
    its sorted column names and canonical rows."""
    import duckdb

    from gen import TABLES
    from puffbird_spark.queries import ORACLES
    from tools.check_oracle import canonical_rows

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for name in names:
            odf = con.sql(ORACLES[name]).df()
            out[name] = {"columns": sorted(odf.columns), "rows": canonical_rows(odf)}
        return out
    finally:
        con.close()


def warm_fleet(spark, n: int) -> None:
    """Start, or keep alive, one Python worker per slot: an Arrow UDF over
    one partition per slot. Spark reaps a worker idle for 60 s."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def ident(s):
        return s

    spark.range(n * 100, numPartitions=n).select(ident("id")).count()


def release_blocks(spark) -> None:
    """Unpersist every persisted or checkpointed RDD, waiting for each."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def setup(n: int, run_dir: str, data_dir: str):
    """Imports, session, JVM warm-up, Python fleet; returns the session,
    the registry and each phase's seconds."""
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    phases = {}
    t0 = time.perf_counter()
    from pyspark.sql import functions as F

    from puffbird_spark.queries import QUERIES
    from puffbird_spark.session import get_spark
    t1 = time.perf_counter()
    phases["import_s"] = t1 - t0
    spark = get_spark(
        app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # keep the JVM's temporary files inside the run directory
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
    t2 = time.perf_counter()
    phases["start_s"] = t2 - t1
    spark.range(1000).groupBy(F.col("id") % 7).count().count()
    spark.read.parquet(os.path.join(data_dir, "region.parquet")).count()
    t3 = time.perf_counter()
    phases["jvm_warmup_s"] = t3 - t2
    warm_fleet(spark, n)
    phases["python_fleet_s"] = time.perf_counter() - t3
    return spark, QUERIES, phases


def shutdown(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def check(pdf, expected: dict, full: bool) -> str | None:
    """None when ``pdf`` matches the oracle, else what differs."""
    from tools.check_oracle import canonical_rows

    if sorted(pdf.columns) != expected["columns"]:
        return f"columns {sorted(pdf.columns)} != {expected['columns']}"
    if len(pdf) != len(expected["rows"]):
        return f"rows {len(pdf)} != {len(expected['rows'])}"
    if full and canonical_rows(pdf) != expected["rows"]:
        return "values differ"
    return None


def run_pass(ctx, workload, tracer, index: int) -> dict:
    """One pass over every step; returns timings, outputs and errors."""
    from puffbird_spark.telemetry import drain_kernels

    ctx.stream_stats = []
    out: dict = {"steps": {}, "outputs": {}, "errors": {}, "kernels": {}}
    tracer.begin_pass(index)
    t0 = time.perf_counter()
    for step in workload.steps:
        s0 = time.perf_counter()
        try:
            with tracer.span(step.name, "query"):
                out["outputs"][step.name] = step.run(ctx)
        except Exception as e:  # noqa: BLE001 - a failing gate is counted, not fatal
            out["errors"][step.name] = f"{type(e).__name__}: {e}"[:500]
        out["steps"][step.name] = time.perf_counter() - s0
        out["kernels"][step.name] = drain_kernels()
    out["wall_s"] = time.perf_counter() - t0
    out["stream"] = ctx.stream_stats
    tracer.end_pass(ctx)
    return out


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks: steal is time the hypervisor gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def git_commit() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown: not a git checkout"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def end_to_end(record: dict, rows: int) -> dict:
    warm_s = statistics.median(p["wall_s"] for p in record["passes"][1:])
    metrics = {
        "setup_s": (sum(record["setup"].values()), "s"),
        "cold_pass_s": (record["passes"][0]["wall_s"], "s"),
        "warm_pass_s": (warm_s, "s"),
        "input_rows_per_s": (rows / warm_s, "1/s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "puffbird_spark", "__init__.py")):
        print(f"perfbench: no puffbird_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    n = cpus()
    run_dir = os.path.join(OUT, f"{workload.name}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    harness = {}
    sizes = prepare(args.seed, data_dir)
    harness["prepare_s"] = time.perf_counter() - t_start

    loadavg = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    spark, queries, phases = setup(n, run_dir, data_dir)
    try:
        t0 = time.perf_counter()
        expected = oracle_results(data_dir, {s.oracle for s in workload.steps})
        harness["oracle_s"] = time.perf_counter() - t0
        if args.trace:
            from tracing import Tracer
            tracer = Tracer(spark, n)
            tracer.install()
        else:
            from tracing import NullTracer
            tracer = NullTracer()
        work_dir = os.path.join(run_dir, "work")
        ctx = Ctx(spark, queries, data_dir, work_dir, tracer)
        passes, failed, attempted, problems = [], 0, 0, []
        window = None  # starts when the cold pass is done
        last = False
        while not last:
            p = run_pass(ctx, workload, tracer, len(passes))
            last = (window is not None and time.perf_counter() - window >= args.seconds
                    and len(passes) >= MIN_WARM_PASSES)
            for step in workload.steps:
                attempted += 1
                if step.name in p["errors"]:
                    bad = p["errors"][step.name]
                else:
                    bad = check(p["outputs"][step.name], expected[step.oracle],
                                full=not passes or last)
                if bad:
                    failed += 1
                    problems.append(f"pass {len(passes)} {step.name}: {bad}")
            del p["outputs"]
            passes.append(p)
            release_blocks(spark)
            shutil.rmtree(work_dir, ignore_errors=True)
            if window is None:
                window = time.perf_counter()
            if not last:
                warm_fleet(spark, n)
        harness["window_s"] = time.perf_counter() - window
        versions = {"spark": spark.version,
                    "java": spark.sparkContext._jvm.System.getProperty("java.version")}
        layer = tracer.metrics(passes, phases) if args.trace else None
        trace_spans = tracer.dump() if args.trace else None
    finally:
        t0 = time.perf_counter()
        shutdown(spark)
        harness["shutdown_s"] = time.perf_counter() - t0

    ticks1 = cpu_ticks()
    rows = sum(sizes[t]["rows"] for t in workload.tables)
    record = {
        "workload": workload.name, "why": workload.why, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds, "commit": git_commit(),
        "host": {"N": n, "nproc": os.cpu_count(), "loadavg1_before": loadavg,
                 "noisy": loadavg > n / 2, "loadavg1_after": os.getloadavg()[0],
                 "steal_share": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
                 **versions},
        "inputs": {"tables": sizes, "rows_read": rows,
                   "bytes_read": sum(sizes[t]["bytes"] for t in workload.tables)},
        "setup": phases, "harness": harness, "passes": passes, "problems": problems,
        "kernel_flips": sum(p["kernels"] != passes[0]["kernels"] for p in passes[1:]),
    }
    metrics = end_to_end(record, rows)
    record["end_to_end"] = metrics
    if args.trace:
        record["per_layer"] = layer
        untraced = os.path.join(OUT, f"{workload.name}-s{args.seed}-t0", "record.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["end_to_end"]["warm_pass_s"]["value"]
            record["trace_overhead_s"] = metrics["warm_pass_s"]["value"] - base
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump(trace_spans, fh)
        metrics = layer
    for sub in ("data", "work", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, sub), ignore_errors=True)
    harness["total_s"] = time.perf_counter() - t_start
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for line in problems[:20]:
        print(f"perfbench: {line}", file=sys.stderr)
    print(f"perfbench: {workload.name} seed {args.seed}: 1 cold + {len(passes) - 1} warm "
          f"passes in {harness['total_s']:.1f} s; loadavg {loadavg:.2f} before set-up"
          f"{' (noisy)' if record['host']['noisy'] else ''}", file=sys.stderr)
    for k, m in record["end_to_end"].items():
        print(f"perfbench:   {k} = {m['value']:.4g} {m['unit']}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
