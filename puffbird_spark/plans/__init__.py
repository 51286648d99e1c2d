"""Plan-inspection helpers: assert the physical plan is the one you'd want
at 100 TB (filters pushed to the scan, columns pruned, small sides
broadcast, codegen engaged). Used by tests/test_plans.py and ad-hoc tuning.

Also the round driver of the iterative operators (:func:`iterate`).
"""

from __future__ import annotations

import re
import warnings
from typing import Callable

from pyspark.sql import Column, DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    n_iter: int,
    until: Column | None = None,
) -> DataFrame:
    """Run ``state = step(state, k)`` for rounds ``k = 1..n_iter`` and
    return the last state.

    Each round's state is materialized by a local checkpoint, which
    truncates the lineage: without it the plan doubles every round and
    the job dies on planning time long before data size matters. The
    state a round supersedes is released as soon as its successor is
    materialized. Only states built here are released; the initial
    ``state`` and any frame ``step`` closes over stay with the caller.

    Without ``until`` every round is an eager checkpoint and all
    ``n_iter`` rounds run. With ``until`` (a predicate over the new
    state's rows, true where the round changed something) each round
    is a LAZY checkpoint plus one count of the matching rows: that one
    job both materializes the round and returns the convergence signal.
    The loop stops at the first round that changes nothing and warns
    when ``n_iter`` rounds end without a fixpoint.
    """
    changed = 0
    for k in range(1, n_iter + 1):
        nxt = step(state, k).localCheckpoint(eager=until is None)
        if until is not None:
            changed = nxt.filter(until).count()
        if k > 1:
            _release(state)
        state = nxt
        if until is not None and changed == 0:
            break
    if changed:
        warnings.warn(
            f"no fixpoint after {n_iter} rounds ({changed} rows still "
            "changing): the result is not converged; raise the round "
            "budget",
            RuntimeWarning,
            stacklevel=3,
        )
    return state


def _release(checkpointed: DataFrame) -> None:
    """Unpersist the RDD behind a frame returned by ``localCheckpoint``
    (its logical plan is the ``LogicalRDD`` over that RDD)."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    plan = formatted_plan(df)
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every scan — checks column pruning reached parquet."""
    plan = formatted_plan(df)
    return re.findall(r"ReadSchema: (\S+)", plan)


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    return any(fragment in f for f in pushed_filters(df))


def scan_reads_only(df: DataFrame, table_marker: str, allowed: set[str]) -> bool:
    """True if the scan whose ReadSchema mentions ``table_marker`` reads a
    subset of ``allowed`` columns."""
    for schema in read_schemas(df):
        if table_marker in schema:
            cols = set(re.findall(r"(\w+):", schema))
            if not cols <= allowed:
                return False
    return True


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the static physical plan (AQE may
    collapse some at runtime; this is the upper bound). Formatted mode
    lists operators as ``(N) Exchange``."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange", plan))


def count_broadcast_joins(df: DataFrame) -> int:
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join", plan))


def _split_depth0(s: str) -> list[str]:
    """Split on commas at paren-depth 0 only — windowspecdefinition args
    can themselves contain commas (``coalesce(a, b)``, CASE WHEN, struct
    fields), and a bare ``split(",")`` would shear those into fragments,
    misclassifying the spec (a partition expr containing ' ASC' text, or
    any comma-bearing expr) and making the plan pin vacuous or falsely
    red."""
    parts, depth, buf = [], 0, []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


def unpartitioned_window_orders(df: DataFrame) -> list[str]:
    """First ordering column of every UNPARTITIONED window spec in the
    plan (a spec whose pre-frame args are all sort specs — partition
    columns print bare, sort columns carry a trailing ASC/DESC
    direction). The single-task funnel check: a data-sized frame under
    one of these is the shape the two-phase `grouped_prefix_sum`
    rewrites exist to prevent. Args are split depth-aware so
    comma-bearing expressions (coalesce, CASE WHEN) can't shear."""
    plan = formatted_plan(df)
    out = []
    for m in re.finditer(
            r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        args = _split_depth0(m.group(1).rstrip().rstrip(","))
        # a sort spec ENDS with its direction token (possibly followed
        # by NULLS FIRST/LAST) — substring ' ASC' inside a nested expr
        # must not count
        sort_re = re.compile(
            r"\s(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$", re.IGNORECASE)
        if args and all(sort_re.search(a) for a in args):
            out.append(args[0].split("#")[0].strip())
    return out


def has_sort_merge_join(df: DataFrame) -> bool:
    return "SortMergeJoin" in formatted_plan(df)


def has_take_ordered(df: DataFrame) -> bool:
    """True when a global ORDER BY+LIMIT planned as TakeOrderedAndProject
    (top-k without a full sort) — what sort/limit should compile to."""
    return "TakeOrderedAndProject" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Whole-stage-codegen span count via simple-mode stars ``*(N)``."""
    simple = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )
    ids = re.findall(r"\*\((\d+)\)", simple)
    return len(set(ids))


def codegen_compiles(spark) -> int:
    """Number of classes Janino has compiled in this JVM so far."""
    jvm = spark.sparkContext._jvm  # type: ignore[attr-defined]
    return int(jvm.org.apache.spark.metrics.source.CodegenMetrics
               .METRIC_COMPILATION_TIME().getCount())


def fence(df: DataFrame, keys: list[str], **exprs) -> DataFrame:
    """Materialize expensive expressions as bound attributes behind a
    one-element explode.

    A Generate node is an optimizer fence: downstream predicates and
    projections — including optimizer-inserted ones (CollapseProject,
    InferFiltersFromGenerate) — then reference the generated ATTRIBUTE
    instead of re-inlining the defining expression at every use site.
    Costs one no-op generator per row (stays inside codegen, adds no rows,
    no shuffle); saves N-1 evaluations of each staged expression when the
    plan would otherwise duplicate it N times. Used by the MinHash
    signature pipeline and the decontamination scan.
    """
    from pyspark.sql import functions as F

    packed = F.explode(
        F.array(
            F.struct(
                *[F.col(k) for k in keys],
                *[e.alias(n) for n, e in exprs.items()],
            )
        )
    ).alias("__fence")
    return df.select(packed).select("__fence.*")
