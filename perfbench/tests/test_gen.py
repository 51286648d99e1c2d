"""The seeded input generator: same seed, same files; another seed, other
rows of the same sizes; joins hit as in the base tables.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen import STREAM_FILES, TABLES, generate  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _digests(d: str) -> dict[str, str]:
    out = {}
    for t in TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.fixture(scope="module")
def runs(tmp_path_factory):
    out = {}
    for name, seed in [("a", 1), ("b", 1), ("c", 2)]:
        d = str(tmp_path_factory.mktemp(name))
        out[name] = (d, generate(d, seed))
    return out


def test_same_seed_gives_identical_files(runs):
    (da, sa), (db, sb) = runs["a"], runs["b"]
    assert sa == sb
    assert _digests(da) == _digests(db)


def test_other_seed_gives_other_rows_of_the_same_size(runs):
    (da, sa), (dc, sc) = runs["a"], runs["c"]
    changed = [t for t in TABLES if _digests(da)[t] != _digests(dc)[t]]
    assert set(changed) >= {"customer", "supplier", "part", "orders", "lineitem",
                            "events", "documents", "embeddings"}
    for t in TABLES:
        assert sa[t]["rows"] == sc[t]["rows"], t
        assert abs(sa[t]["bytes"] - sc[t]["bytes"]) <= 0.01 * sa[t]["bytes"], t


def test_every_join_key_hits(runs):
    d, sizes = runs["c"]
    con = duckdb.connect()
    li = f"'{d}/lineitem.parquet'"
    hits = con.execute(
        f"SELECT COUNT(*) FROM {li} l "
        f"JOIN '{d}/orders.parquet' o ON l.l_orderkey = o.o_orderkey "
        f"JOIN '{d}/customer.parquet' c ON o.o_custkey = c.c_custkey "
        f"JOIN '{d}/part.parquet' p ON l.l_partkey = p.p_partkey "
        f"JOIN '{d}/supplier.parquet' s ON l.l_suppkey = s.s_suppkey "
        f"JOIN '{d}/nation.parquet' n ON s.s_nationkey = n.n_nationkey").fetchone()[0]
    assert hits == sizes["lineitem"]["rows"]
    for t, key in [("orders", "o_orderkey"), ("customer", "c_custkey"),
                   ("documents", "doc_id"), ("embeddings", "vec_id"), ("events", "event_id")]:
        n, distinct = con.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT {key}) FROM '{d}/{t}.parquet'").fetchone()
        assert n == distinct, t


def test_stream_files_hold_every_event_in_time_order(runs):
    d, sizes = runs["a"]
    con = duckdb.connect()
    files = [os.path.join(d, "stream", f"b{i}.parquet") for i in range(STREAM_FILES)]
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(set(mtimes))
    spans = [con.execute(f"SELECT MIN(ts_us), MAX(ts_us), COUNT(*) FROM '{f}'").fetchone()
             for f in files]
    assert sum(s[2] for s in spans) == sizes["events"]["rows"]
    assert all(spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1))


def test_benchmark_json_names_every_metric():
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tracing import per_layer_names
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_names()
    assert {m["name"] for m in bench["end_to_end"]} == {
        "setup_s", "cold_pass_s", "warm_pass_s", "input_rows_per_s"}
