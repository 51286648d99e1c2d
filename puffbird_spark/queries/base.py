"""Query registry shared by ``__spark_entry__`` and ``bench.py``.

Every declared operator from SURVEY.md §2 registers here as a named query
(a ``(spark, sf_dir) -> DataFrame`` callable) plus, when SQL-expressible, a
DuckDB oracle string computing the identical result. Column names and value
canonicalization are aligned on both sides (see the float policy below).

Float policy (the reason the oracles hash-match):
- All money-ish inputs in the testdata are exact 2-decimal doubles, so sums
  are computed over ``DECIMAL(12,2)`` casts on BOTH engines — decimal
  arithmetic is exact, giving bit-equal results regardless of aggregation
  order (Spark partial aggs vs DuckDB single-threaded scan).
- Averages are expressed as ``CAST(decimal_sum AS DOUBLE) / count`` — exact
  division of identical doubles — never engine-native ``avg`` over doubles.
- Genuinely approximate values (cosine similarity, log, sqrt) are rounded
  identically on both sides before comparison/ranking. The operators
  under ``functions/`` and ``operators/`` read that precision from one
  place: ``functions.RELEASE_DP`` (6 dp) for released values and
  ``functions.SNAP_SCALE`` (6) for the ``decimal(20, 6)`` snap that moment
  sums take before squaring; neither is an operator option.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` declares a rows-only check (for
    non-SQL-expressible ops: MinHash/SimHash/LSH, streaming semantics)."""

    def deco(fn):
        # a duplicate name silently SHADOWS the earlier gate (import
        # order decides the winner) — the r13 timeseries_acf collision:
        # a new gate reused an existing name, check_oracle greenly
        # re-tested the OLD gate, and the new code never ran. Fail loud.
        prev = QUERIES.get(name)
        if prev is not None:
            # Idempotent re-registration is fine (ADVICE r13): a double
            # import of the same module under a different path (notebook
            # importlib.reload, pytest import-mode edges) re-runs the
            # decorator with the same function — same (module, qualname)
            # — and must not hard-fail the package import. reload creates
            # a NEW function object, so compare provenance, not identity.
            same_provenance = (
                getattr(prev, "__module__", None) == getattr(fn, "__module__", None)
                and getattr(prev, "__qualname__", None)
                == getattr(fn, "__qualname__", None)
            )
            if prev is fn or same_provenance:
                QUERIES[name] = fn
                if oracle is not None:
                    ORACLES[name] = oracle
                return fn
            raise ValueError(
                f"query {name!r} is already registered — gate names "
                f"must be unique (a duplicate silently shadows the "
                f"earlier registration)")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    from ..sources import load_table

    return load_table(spark, sf_dir, table)


def scratch_dir(sf_dir: str, gate: str) -> str:
    """An empty directory for one call of the registered gate ``gate``:
    ``/tmp/pbs_<gate><tag>``, where the tag is ``sf_dir`` with its slashes
    made underscores. Whatever an earlier call wrote there is deleted
    first, so a gate that writes its fixture or sink here runs its
    operator on every call and never reads back an older call's files.
    The directory is named after the gate, so no two gates share one."""
    if gate not in QUERIES:
        raise ValueError(f"{gate!r} is not a registered gate")
    path = f"/tmp/pbs_{gate}{sf_dir.rstrip('/').replace('/', '_')}"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dec(col: str | Column, precision: int = 12, scale: int = 2) -> Column:
    """Exact-decimal view of a clean 2-dp double column."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def avg_exact(value: Column, count: Column | None = None) -> Column:
    """Deterministic average: exact decimal sum cast to double, divided by
    the count — identical bits on Spark and DuckDB."""
    cnt = count if count is not None else F.count(F.lit(1))
    return F.sum(value).cast("double") / cnt


#: DuckDB type fragments that mark a column the driver canonicalizer cannot
#: hash (pandas factorize dies on list/dict cells). This class of defect
#: shipped twice (r2 ``fn_struct``, r3 ``agg_percentiles_exact``) — flatten
#: complex outputs to scalar columns instead.
_UNHASHABLE_TYPE_MARKS = ("STRUCT", "MAP(", "[]", "LIST", "UNION(")


def lint_oracles(sf_dir: str = "/root/testdata/sf0.001") -> list[str]:
    """Registry lint: every oracle-hashed query must produce only scalar
    top-level columns. Returns ``["name.column: TYPE", ...]`` violations
    (empty == clean). Checked via DuckDB ``DESCRIBE`` — schema only, no
    execution — so the whole registry lints in seconds; the Spark side
    must mirror the oracle schema to hash-match, so linting the oracle
    covers both engines."""
    import duckdb

    con = duckdb.connect()
    tables = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    bad: list[str] = []
    for name, sql in ORACLES.items():
        for row in con.execute(f"DESCRIBE ({sql})").fetchall():
            col, typ = row[0], row[1]
            if any(m in typ.upper() for m in _UNHASHABLE_TYPE_MARKS):
                bad.append(f"{name}.{col}: {typ}")
    con.close()
    return bad
