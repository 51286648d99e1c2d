"""Spans around the calls into each ``puffbird_spark`` layer, with Spark's
job metrics attributed to them.

``Tracer.install`` replaces every public function (and every public method
of a class) defined in a layer module with a wrapper that opens a span,
in every ``puffbird_spark`` module that binds it. The layers are
``session``, ``sources``, ``engine``, ``explode``, ``plans``,
``streaming`` and each ``operators.<module>``. No file of the package
changes. A span sets a Spark job group, so every job it starts can be
found in the status store and charged to it; jobs started by a streaming
query's own thread are charged to the query span they ran in.

The span tree is pass -> query -> layer calls -> the forcing action. A
span's self time is its duration minus the time its child spans cover.
Spans stay in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import pkgutil
import re
import resource
import statistics
import sys
import threading
import time
from contextlib import contextmanager, nullcontext

LAYER_MODULES = ("session", "sources", "engine", "explode", "plans", "streaming",
                 "operators")
#: operator modules reported on their own
OPERATOR_LAYERS = ("graph", "clustering", "similarity", "dedup", "profile",
                   "retrieval", "decontam", "layout", "merge")
MB = 2 ** 20
#: per-layer metric <- (status-store stage fields summed, divisor)
STAGE_METRICS = {
    "spark.tasks": (("numTasks",), 1),
    "spark.executor_run_s": (("executorRunTime",), 1e3),
    "spark.executor_cpu_s": (("executorCpuTime",), 1e9),
    "spark.gc_s": (("jvmGcTime",), 1e3),
    "sources.input_mb": (("inputBytes",), MB),
    "sources.output_mb": (("outputBytes",), MB),
    "spark.shuffle_read_mb": (("shuffleReadBytes",), MB),
    "spark.shuffle_write_mb": (("shuffleWriteBytes",), MB),
    "spark.spill_mb": (("memoryBytesSpilled", "diskBytesSpilled"), MB),
}
PYTHON_EVAL = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
                         r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|"
                         r"AggregateInPandas|WindowInPandas|PythonMapInArrow)\b")


class NullTracer:
    """The untraced run: no spans, nothing recorded."""

    def span(self, name, layer):
        return nullcontext()

    def begin_pass(self, index):
        pass

    def end_pass(self, ctx):
        pass


class Span:
    __slots__ = ("id", "parent", "name", "layer", "start", "end", "jobs")

    def __init__(self, sid, parent, name, layer):
        self.id, self.parent, self.name, self.layer = sid, parent, name, layer
        self.start, self.end = time.time(), None
        self.jobs: list[dict] = []


def _layer_of(module: str) -> str | None:
    parts = module.split(".")
    if len(parts) < 2 or parts[0] != "puffbird_spark" or parts[1] not in LAYER_MODULES:
        return None
    if parts[1] == "operators":
        return f"operators.{parts[2]}" if len(parts) > 2 else None
    return parts[1]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, spark, n: int):
        self.spark, self.sc, self.n = spark, spark.sparkContext, n
        self.prefix = f"perfbench-{os.getpid()}-"
        self.spans: list[Span] = []
        self.by_id: dict[int, Span] = {}
        self.active = False
        self._local = threading.local()
        self._main: list[Span] = []
        self._last_job = -1
        self.pass_metrics: list[dict] = []
        self.checkpoint_calls = 0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if threading.current_thread() is threading.main_thread():
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.active:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        s = Span(len(self.spans), parent.id if parent else None, name, layer)
        self.spans.append(s)
        self.by_id[s.id] = s
        stack.append(s)
        self.sc.setJobGroup(f"{self.prefix}{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            if stack:
                self.sc.setJobGroup(f"{self.prefix}{stack[-1].id}", stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def install(self) -> None:
        """Wrap every layer's public functions in spans (see module doc)."""
        import puffbird_spark

        for info in pkgutil.walk_packages(puffbird_spark.__path__, "puffbird_spark."):
            if _layer_of(info.name):
                importlib.import_module(info.name)
        wrappers: dict[int, object] = {}
        for mod in [m for k, m in list(sys.modules.items()) if _layer_of(k)]:
            layer = _layer_of(mod.__name__)
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj) and not hasattr(obj, "evalType"):
                    wrappers[id(obj)] = (obj, self._wrap(obj, layer))
                elif inspect.isclass(obj):
                    for mname, meth in list(vars(obj).items()):
                        if not mname.startswith("_") and inspect.isfunction(meth):
                            setattr(obj, mname, self._wrap(meth, layer))
        for key, mod in list(sys.modules.items()):
            if not key.startswith("puffbird_spark"):
                continue
            for name, obj in list(vars(mod).items()):
                hit = wrappers.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, name, hit[1])
        self._count_materializations()

    def _wrap(self, fn, layer: str):
        name = f"{layer}.{fn.__qualname__}"
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(name, layer):
                return fn(*args, **kwargs)
        return wrapper

    def _count_materializations(self) -> None:
        """Count persist/cache/checkpoint calls: plans.checkpoints."""
        from pyspark.sql.classic.dataframe import DataFrame

        for meth in ("localCheckpoint", "checkpoint", "persist", "cache"):
            orig = getattr(DataFrame, meth)

            def counted(df, *a, _orig=orig, **k):
                if self.active:
                    self.checkpoint_calls += 1
                return _orig(df, *a, **k)
            setattr(DataFrame, meth, functools.wraps(orig)(counted))

    # -- passes --------------------------------------------------------
    def begin_pass(self, index: int) -> None:
        self.checkpoint_calls = 0
        self.active = True
        self._pass_cm = self.span(f"pass.{index}", "pass")
        self._pass = self._pass_cm.__enter__()

    def end_pass(self, ctx) -> None:
        self._pass_cm.__exit__(None, None, None)
        self.active = False
        self._collect_jobs()
        self.pass_metrics.append(self._pass_metrics(self._pass, ctx))

    def _collect_jobs(self) -> None:
        """Read every job since the previous pass from the status store and
        charge it, with its stages' task metrics, to its span."""
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        it = jobs.iterator()
        newest = self._last_job
        seen_stages: set[int] = set()
        while it.hasNext():
            jd = it.next()
            jid = jd.jobId()
            if jid <= self._last_job:
                continue
            newest = max(newest, jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isEmpty():
                continue
            start = sub.get().getTime() / 1000
            end = comp.get().getTime() / 1000 if comp.isDefined() else time.time()
            job = {"start": start, "end": end, "spark.stages": 0,
                   **dict.fromkeys(STAGE_METRICS, 0.0)}
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                job["spark.stages"] += 1
                for name, (fields, div) in STAGE_METRICS.items():
                    job[name] += sum(getattr(st, f)() for f in fields) / div
            group = jd.jobGroup()
            owner = None
            if group.isDefined() and group.get().startswith(self.prefix):
                owner = self.by_id.get(int(group.get()[len(self.prefix):]))
            if owner is None:  # a streaming query's own thread: the query span it ran in
                owner = next((s for s in reversed(self.spans) if s.layer == "query"
                              and s.start <= start <= (s.end or time.time())), None)
            if owner is not None:
                owner.jobs.append(job)
        self._last_job = newest

    def _subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None and s.id > root.id:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.id, [])
        return out

    def _pass_metrics(self, p: Span, ctx) -> dict:
        spans = self._subtree(p)
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        jobs = [j for s in spans for j in s.jobs]
        wall = p.end - p.start
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        for k in ("spark.stages", *STAGE_METRICS):
            m[k] = sum(j[k] for j in jobs)
        m["spark.jobs"] = len(jobs)
        m["driver.gap_s"] = wall - _union(
            [(max(j["start"], p.start), min(j["end"], p.end)) for j in jobs])
        m["plans.checkpoints"] = self.checkpoint_calls
        for s in spans:
            self_s = (s.end - s.start) - _union(
                [(c.start, c.end) for c in children.get(s.id, [])])
            if s.layer.startswith("operators."):
                add(f"{s.layer}.self_s", self_s)
            if s.name in ("engine.FrameEngine.to_puffy", "engine.FrameEngine.to_long"):
                add(f"engine.{s.name.rsplit('.', 1)[1]}_s", self_s)
        queries = [s for s in spans if s.layer == "query"]
        m["trace.harness_gap_s"] = wall - sum(q.end - q.start for q in queries)
        for q in queries:
            m[f"queries.{q.name}.warm_s"] = q.end - q.start
            m[f"queries.{q.name}.jobs"] = sum(len(s.jobs) for s in self._subtree(q))
        m["spark.slot_use"] = m["spark.executor_run_s"] / (wall * self.n)
        # pinned at pass end, before the harness releases them
        m["plans.pinned_blocks_end"] = self.sc._jsc.getPersistentRDDs().size()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        m["plans.pinned_mb_end"] = sum(i.memSize() + i.diskSize() for i in infos) / MB
        m.update(self._plan_shapes(ctx))
        m.update(self._memory())
        streams = ctx.stream_stats
        if streams:
            batches = [b for st in streams for b in st["batch_s"]]
            m["streaming.batches"] = len(batches)
            m["streaming.batch_s"] = statistics.median(batches)
            m["streaming.sink_s"] = sum(sum(st["sink_s"]) for st in streams)
            m["streaming.state_rows"] = sum(st["state_rows"] for st in streams)
            m["streaming.state_mb"] = sum(st["state_mb"] for st in streams)
        return m

    def _plan_shapes(self, ctx) -> dict:
        """Exchange, codegen-stage and Python-eval node counts over the
        frames the pass's steps returned (planned, not executed again)."""
        from puffbird_spark.plans import codegen_stage_count, count_exchanges, formatted_plan

        out = {"plans.exchanges": 0, "plans.codegen_stages": 0, "plans.python_eval_nodes": 0}
        for df in ctx.frames.values():
            out["plans.exchanges"] += count_exchanges(df)
            out["plans.codegen_stages"] += codegen_stage_count(df)
            out["plans.python_eval_nodes"] += len(PYTHON_EVAL.findall(formatted_plan(df)))
        ctx.frames.clear()
        return out

    def _memory(self) -> dict:
        """Peak resident set (VmHWM) of the JVM and of the Python processes:
        this process and every process under the JVM (daemon and workers)."""
        def hwm(pid) -> float:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024
            except OSError:
                pass
            return 0.0

        parents = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
        proc = getattr(self.sc._gateway, "proc", None)
        jvm = proc.pid if proc is not None else None
        below, todo = set(), [jvm]
        while todo:
            p = todo.pop()
            kids = [c for c, pp in parents.items() if pp == p and c not in below]
            below.update(kids)
            todo += kids
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        return {"mem.jvm_peak_rss_mb": hwm(jvm) if jvm else 0.0,
                "mem.python_peak_rss_mb": max([py] + [hwm(c) for c in below])}

    # -- results -------------------------------------------------------
    def metrics(self, passes: list[dict], setup: dict) -> dict:
        """Per-layer metrics: the median over warm passes of each per-pass
        value, the set-up phases, and the count of kernel flips."""
        warm = self.pass_metrics[1:]
        out = {f"session.{k}": (v, "s") for k, v in setup.items()}
        for name, unit in per_layer_names():
            if name.startswith("session.") or name == "telemetry.kernel_flips":
                continue
            vals = [pm.get(name, 0.0) for pm in warm]
            out[name] = (statistics.median(vals), unit)
        flips = sum(p["kernels"] != passes[0]["kernels"] for p in passes[1:])
        out["telemetry.kernel_flips"] = (flips, "count")
        return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}

    def dump(self) -> dict:
        return {
            "spans": [{"id": s.id, "parent": s.parent, "name": s.name, "layer": s.layer,
                       "start": s.start, "end": s.end, "jobs": s.jobs} for s in self.spans],
            "passes": self.pass_metrics,
        }


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    from workloads import WORKLOADS

    names = [(f"session.{k}", "s") for k in
             ("import_s", "start_s", "jvm_warmup_s", "python_fleet_s")]
    names += [("spark.jobs", "count"), ("driver.gap_s", "s"), ("plans.checkpoints", "count")]
    names += [(f"operators.{o}.self_s", "s") for o in OPERATOR_LAYERS]
    names += [("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
              ("spark.slot_use", "ratio"), ("spark.shuffle_read_mb", "MB"),
              ("spark.shuffle_write_mb", "MB"), ("plans.pinned_blocks_end", "count"),
              ("plans.pinned_mb_end", "MB"), ("spark.gc_s", "s"),
              ("mem.jvm_peak_rss_mb", "MB"), ("mem.python_peak_rss_mb", "MB"),
              ("spark.stages", "count"), ("spark.tasks", "count"), ("spark.spill_mb", "MB"),
              ("sources.input_mb", "MB"), ("sources.output_mb", "MB"),
              ("plans.exchanges", "count"), ("plans.codegen_stages", "count"),
              ("plans.python_eval_nodes", "count"), ("engine.to_puffy_s", "s"),
              ("engine.to_long_s", "s"), ("streaming.batches", "count"),
              ("streaming.batch_s", "s"), ("streaming.sink_s", "s"),
              ("streaming.state_rows", "count"), ("streaming.state_mb", "MB"),
              ("trace.harness_gap_s", "s"), ("telemetry.kernel_flips", "count")]
    for w in WORKLOADS.values():
        for step in w.steps:
            names += [(f"queries.{step.name}.warm_s", "s"), (f"queries.{step.name}.jobs", "count")]
    return names
