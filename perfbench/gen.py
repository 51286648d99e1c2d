"""Seeded input generator for the benchmark workloads.

Every table is built from the sf0.01 tables in ``perfbench/base`` by
whole-row resampling: rows are copied intact and only their keys are
re-assigned, so the 64-dim embeddings, the 2-dp money columns and the
low-diversity text keep the shape the gates and their oracles assume.

- customer, supplier, part, documents and embeddings keep every row and
  get a seeded permutation of their keys;
- orders are bootstrapped (drawn with replacement) within strata of equal
  line count, so the lineitem row count is exact for every seed; each
  drawn order gets a fresh key and brings all its lineitems along, and
  the foreign keys follow the same permutations, so every join hits at
  the base rate;
- events keep every row; users get a seeded permutation of their ids;
- nation and region are copied unchanged.

The same seed gives byte-identical files; different seeds give different
rows with the same row counts.

Usage: python3 perfbench/gen.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

#: entity tables whose key gets a seeded permutation
PERMUTED = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
COPIED = ["nation", "region"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

#: the staged stream replay: events split into this many time-ranged files
STREAM_FILES = 2
#: mtime of the first staged file; later files are one second apart
STREAM_MTIME0 = 1_600_000_000


def _read(table: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE, f"{table}.parquet"))


def _set(t: pa.Table, col: str, values) -> pa.Table:
    i = t.schema.get_field_index(col)
    return t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))


def _key_map(keys: np.ndarray, rng: np.random.Generator) -> dict:
    """A seeded bijection of the base key set."""
    return dict(zip(keys.tolist(), keys[rng.permutation(len(keys))].tolist()))


def _remap(values: np.ndarray, mapping: dict) -> np.ndarray:
    return np.fromiter((mapping[v] for v in values.tolist()), np.int64, len(values))


def _resample(base: dict[str, pa.Table], rng: np.random.Generator) -> dict[str, pa.Table]:
    maps = {t: _key_map(base[t][c].to_numpy(), rng) for t, c in PERMUTED.items()}
    out = {t: base[t] for t in COPIED}
    for t, c in PERMUTED.items():
        out[t] = _set(base[t], c, _remap(base[t][c].to_numpy(), maps[t]))

    # orders + lineitem: stratified bootstrap by line count
    orders, li = base["orders"], base["lineitem"]
    okeys = orders["o_orderkey"].to_numpy()
    li = li.take(pc.sort_indices(li, [("l_orderkey", "ascending"),
                                      ("l_linenumber", "ascending")]))
    lkeys = li["l_orderkey"].to_numpy()
    starts = np.searchsorted(lkeys, okeys, "left")
    counts = np.searchsorted(lkeys, okeys, "right") - starts
    drawn = []
    for c in np.unique(counts):
        stratum = np.flatnonzero(counts == c)
        drawn.append(rng.choice(stratum, size=len(stratum), replace=True))
    drawn = np.sort(np.concatenate(drawn), kind="stable")
    new_okeys = 1 + np.arange(len(drawn), dtype=np.int64)
    o = orders.take(pa.array(drawn))
    o = _set(o, "o_orderkey", new_okeys)
    o = _set(o, "o_custkey", _remap(o["o_custkey"].to_numpy(), maps["customer"]))
    rows = np.concatenate([np.arange(starts[d], starts[d] + counts[d]) for d in drawn])
    l_ = li.take(pa.array(rows))
    l_ = _set(l_, "l_orderkey", np.repeat(new_okeys, counts[drawn]))
    l_ = _set(l_, "l_partkey", _remap(l_["l_partkey"].to_numpy(), maps["part"]))
    l_ = _set(l_, "l_suppkey", _remap(l_["l_suppkey"].to_numpy(), maps["supplier"]))
    out["orders"], out["lineitem"] = o, l_

    ev = base["events"]
    users = _key_map(np.unique(ev["user_id"].to_numpy()), rng)
    out["events"] = _set(ev, "user_id", _remap(ev["user_id"].to_numpy(), users))
    return out


def generate(out_dir: str, seed: int) -> dict[str, dict[str, int]]:
    """Write every table to ``out_dir`` and return ``{table: {rows, bytes}}``."""
    os.makedirs(out_dir, exist_ok=True)
    tables = _resample({t: _read(t) for t in TABLES}, np.random.default_rng(seed))
    sizes = {}
    for t in TABLES:
        tab = tables[t]
        key = PERMUTED.get(t) or {"orders": "o_orderkey", "lineitem": "l_orderkey",
                                  "events": "event_id"}.get(t)
        if key:
            tab = tab.take(pc.sort_indices(tab, [(key, "ascending")]))
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(tab, path, compression="snappy")
        sizes[t] = {"rows": tab.num_rows, "bytes": os.path.getsize(path)}
    stage_stream(out_dir)
    return sizes


def stage_stream(out_dir: str) -> None:
    """Stage the events as time-ranged files with ascending mtimes.

    The file source orders files by modification time, and the session
    tracker needs every user's events to arrive in time order across
    micro-batches, so file ``i`` holds the ``i``-th time range and is
    stamped ``i`` seconds after the first."""
    ev = pq.read_table(os.path.join(out_dir, "events.parquet"),
                       columns=["user_id", "event_id", "ts"])
    ts_us = pc.cast(pc.cast(ev["ts"], pa.timestamp("us")), pa.int64())
    ev = pa.table({"user_id": ev["user_id"], "event_id": ev["event_id"], "ts_us": ts_us})
    ev = ev.take(pc.sort_indices(ev, [("ts_us", "ascending"), ("event_id", "ascending")]))
    stream_dir = os.path.join(out_dir, "stream")
    os.makedirs(stream_dir, exist_ok=True)
    bounds = np.linspace(0, ev.num_rows, STREAM_FILES + 1).astype(int)
    for i in range(STREAM_FILES):
        path = os.path.join(stream_dir, f"b{i}.parquet")
        pq.write_table(ev.slice(bounds[i], bounds[i + 1] - bounds[i]), path,
                       compression="snappy")
        os.utime(path, (STREAM_MTIME0 + i, STREAM_MTIME0 + i))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sizes = generate(args.out, args.seed)
    with open(os.path.join(args.out, "sizes.json"), "w") as fh:
        json.dump(sizes, fh)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
