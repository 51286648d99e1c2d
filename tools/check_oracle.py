"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and an order-insensitive canonicalized value
multiset. The session is ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU
of the host), shuffle partitions 2x that — the ``bench.py`` convention.

Usage:
    python tools/check_oracle.py [--sf-dir /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

ROUND_DP = 6


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return ""
        r = round(float(v), ROUND_DP)
        if r == 0.0:
            r = 0.0  # normalize -0.0
        return f"{r:.{ROUND_DP}f}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.{ROUND_DP}f}"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        items = sorted((str(k), _cell(x)) for k, x in v.items())
        return "{" + ",".join(f"{k}:{x}" for k, x in items) + "}"
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        if isinstance(v, pd.Timestamp) and pd.isna(v):
            return ""
        return pd.Timestamp(v).isoformat()
    if v is pd.NaT:
        return ""
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    return sorted(
        tuple(_cell(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )


def _col_kind(series: pd.Series) -> str:
    """Coarse value-kind of a pandas column, as the DRIVER would see it.

    ``_cell`` silently coerces ``Decimal`` -> float, which made this tool
    blind to the exact seam that shipped red in r8 (``agg_hhi``: Spark
    delivered ``Decimal`` objects, DuckDB float64, values equal at 6 dp —
    driver hash_match=false). Kinds are compared per column BEFORE value
    canonicalization so a Decimal-vs-float pairing fails here the way it
    fails there (VERDICT r8 "What's wrong" #2)."""
    dt = series.dtype
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dt):
        return "datetime"
    # object column: classify by the first non-null value
    for v in series:
        if v is None or (isinstance(v, float) and math.isnan(v)):
            continue
        if isinstance(v, decimal.Decimal):
            return "decimal"
        if isinstance(v, bool):
            return "bool"
        if isinstance(v, int):
            return "int"
        if isinstance(v, float):
            return "float"
        if isinstance(v, (datetime.datetime, datetime.date, pd.Timestamp)):
            return "datetime"
        if isinstance(v, (list, tuple, np.ndarray)):
            return "list"
        if isinstance(v, dict):
            return "map"
        return "str"
    return "empty"


def dtype_problems(
    sdf: pd.DataFrame, odf: pd.DataFrame
) -> tuple[list[str], list[str]]:
    """Return (hard failures, warnings). A ``decimal`` kind on either side
    that the other side doesn't mirror is the proven-red driver seam ->
    hard FAIL. Every other kind mismatch is a WARN: existing driver-GREEN
    gates pair int64 vs float64 (DuckDB HUGEINT sums come back float), so
    the driver's canonicalization demonstrably tolerates those."""
    fails, warns = [], []
    for col in sorted(set(sdf.columns) & set(odf.columns)):
        sk, ok = _col_kind(sdf[col]), _col_kind(odf[col])
        if sk == ok or "empty" in (sk, ok):
            continue
        msg = f"dtype seam on '{col}': spark={sk} duckdb={ok}"
        if "decimal" in (sk, ok):
            fails.append(msg)
        else:
            warns.append(msg)
    return fails, warns


def lint_oracle_types(con, oracles: dict[str, str]) -> list[str]:
    """Registry-wide output-type lint (VERDICT r8 next-round #2): probe each
    oracle's column types via DuckDB (LIMIT 0 — no data scanned) and flag
    any DECIMAL value column. The registry convention is DOUBLE finals;
    a DECIMAL final ships a red driver hash even when values agree."""
    bad = []
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql(f"SELECT * FROM ({sql}) q LIMIT 0")
            decimals = [
                f"{c}:{t}" for c, t in zip(rel.columns, rel.types)
                if "DECIMAL" in str(t).upper()
            ]
        except Exception as e:  # noqa: BLE001 — report, don't mask
            bad.append(f"{name}: probe error {type(e).__name__}: {e}")
            continue
        if decimals:
            bad.append(f"{name}: DECIMAL output column(s) {decimals}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="subset of query names to check")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--lint-types", action="store_true",
        help="registry-wide oracle output-type lint (no Spark, no data "
             "scan): fail on any DECIMAL oracle output column")
    args = ap.parse_args()

    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = args.names or list(queries)

    con = duckdb.connect()
    for t in TABLES:
        path = f"{args.sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    if args.lint_types:
        subset = {n: oracles[n] for n in names if n in oracles}
        bad = lint_oracle_types(con, subset)
        for line in bad:
            print(f"LINT {line}")
        print(f"\nlint: {len(bad)} offender(s) of {len(subset)} oracles")
        return 1 if bad else 0

    from puffbird_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))
    spark = get_spark(app_name="check-oracle", master=f"local[{cpus}]",
                      shuffle_partitions=cpus * 2)

    n_pass = n_fail = n_rowsonly = 0
    for name in names:
        if name not in queries:
            print(f"{name}: NOT DECLARED")
            n_fail += 1
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"{name}: SPARK ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if name not in oracles:
            print(f"{name}: rows-only ({len(sdf)} rows, {spark_s:.1f}s) — no oracle declared")
            n_rowsonly += 1
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name}: DUCKDB ERROR {type(e).__name__}: {e}")
            n_fail += 1
            continue

        problems = []
        if len(sdf) != len(odf):
            problems.append(f"rowcount spark={len(sdf)} duckdb={len(odf)}")
        s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
        if s_cols != o_cols:
            problems.append(f"columns spark={s_cols} duckdb={o_cols}")
        if not problems:
            dt_fails, dt_warns = dtype_problems(sdf, odf)
            problems.extend(dt_fails)
            for w in dt_warns:
                print(f"{name}: WARN {w}")
        if not problems:
            srows, orows = canonical_rows(sdf), canonical_rows(odf)
            if srows != orows:
                sset, oset = set(srows), set(orows)
                diff = [(a, b) for a, b in zip(srows, orows) if a != b][:3]
                only_s = [r for r in srows if r not in oset][:2]
                only_o = [r for r in orows if r not in sset][:2]
                problems.append(
                    f"values differ; first diffs={diff!r} "
                    f"spark-only={only_s!r} duckdb-only={only_o!r}"
                )
        if problems:
            print(f"{name}: FAIL  {' | '.join(problems)}")
            n_fail += 1
        else:
            empty = "  [WARN: 0 rows — matching but testing nothing]" if len(sdf) == 0 else ""
            print(f"{name}: ok ({len(sdf)} rows, spark {spark_s:.1f}s){empty}")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail "
          f"of {len(names)} at {args.sf_dir}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
