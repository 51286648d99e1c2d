"""Contract for bench.py's stdout line and its bench_full.json sidecar.

The stdout line carries the totals and every ``BENCH_QUERIES`` entry's
warm med3, so which names appear never depends on the timings. The
sidecar carries the complete ``[cold, warm]`` record.
"""

import json

import pytest

import bench


def _line(cold: dict, warm: dict) -> str:
    record = bench.build_stdout_record(cold, warm, "0.1")
    return json.dumps(record, separators=(",", ":"))


def test_stdout_record_shape():
    # 4-digit integer part + 2 dp: the widest realistic per-query timing
    cold = {name: 9999.99 for name in bench.BENCH_QUERIES}
    warm = {name: 9999.99 for name in bench.BENCH_QUERIES}
    record = json.loads(_line(cold, warm))
    assert set(record) == {
        "metric", "value", "unit", "value_warm", "queries", "sf"}
    assert record["unit"] == "sec"
    assert record["sf"] == 0.1
    for name, warm_s in record["queries"].items():
        assert isinstance(warm_s, (int, float)), name
    # totals are sums of the per-query colds/warms (2 dp)
    assert record["value"] == round(
        sum(9999.99 for _ in bench.BENCH_QUERIES), 2)


@pytest.mark.parametrize("timing", [
    lambda i: 9999.99,
    lambda i: 0.0,
    lambda i: float(i),
    lambda i: 9999.99 - 100.0 * i,
    lambda i: (i * 7919 % 997) / 3.0,
], ids=["widest", "zero", "ascending", "descending", "scrambled"])
def test_stdout_queries_are_the_fixed_bench_set(timing):
    """Every BENCH_QUERIES entry reaches stdout for any timings, and the
    totals sum every entry."""
    names = bench.BENCH_QUERIES
    cold = {n: timing(i) + 1.0 for i, n in enumerate(names)}
    warm = {n: timing(i) for i, n in enumerate(names)}
    record = json.loads(_line(cold, warm))
    assert set(record["queries"]) == set(names)
    assert record["value"] == round(sum(cold.values()), 2)
    assert record["value_warm"] == round(sum(warm.values()), 2)


def test_sidecar_holds_complete_record(tmp_path):
    """The bench_full.json sidecar must carry EVERY query's [cold, warm]
    at 3 dp (stdout carries warm only)."""
    cold = {name: 1.234 for name in bench.BENCH_QUERIES}
    warm = {name: 0.567 for name in bench.BENCH_QUERIES}
    path = bench.write_full_sidecar(
        cold, warm, "0.1", path=str(tmp_path / "bench_full.json"))
    with open(path) as fh:
        payload = json.load(fh)
    assert set(payload["queries"]) == set(bench.BENCH_QUERIES)
    assert all(v == [1.234, 0.567] for v in payload["queries"].values())
    assert payload["total_cold"] == round(sum(cold.values()), 3)
