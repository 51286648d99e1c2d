"""Kernel policy and kernel-selection telemetry.

The LLM-data operators (similarity search, MinHash and embedding dedup,
k-means, exact Jaccard) each have an Arrow/pandas kernel and a JVM
Column/HOF kernel. Which one runs is decided here, from the input only:
a site estimates its work (pairs to score, documents to sign, rows to
assign) and :func:`arrow_kernel` compares it against that op's entry in
``ARROW_MIN_WORK``. No operator takes a caller-set kernel option; a test
forces a kernel by patching ``telemetry.arrow_kernel`` (every site calls
it through this module attribute).

Below a threshold the ~0.5 s/worker Python-worker spin-up of the FIRST
Arrow stage in a session (10-20 s total at local[32]) dwarfs the per-row
win (~0.1 µs Arrow vs ~40 µs interpreted per pair) — the r3 bench
regression (knn_cosine 3.3x cold). Above it the Arrow kernel pays for
itself even cold, and on a long-lived 100 TB cluster the spin-up is sunk.

Every decision is also recorded, so a slow number can be told apart
from a gate flip: ``bench.py`` drains the record per query into its
``# kernel`` line and perfbench into each step's ``kernels``. Deliberately
tiny: module-level state, no locks (driver-side plan construction is
single-threaded per query in every caller), and draining is
observational.
"""

from __future__ import annotations

#: per-op work at or above which the Arrow (or dense) kernel runs. Work
#: units are the op's own: estimated pairs for the cosine scorers,
#: n²/k for within-cluster pairs, rows x planes for the BQ signature,
#: expected bucket collisions for the incremental embedding verifier,
#: estimated documents/rows for the MinHash signature and the k-means
#: assignment, average gram document frequency for exact Jaccard.
ARROW_MIN_WORK: dict[str, float] = {
    "cosine_topk": 100_000,
    "lsh_bucket_topk": 100_000,
    "cosine_radius": 100_000,
    "sq_topk": 100_000,
    "rp_topk": 100_000,
    "cosine_pairs_exact": 100_000,
    "semantic_pairs": 100_000,
    "bq_signature": 2_000_000,
    # measured crossover (forced-path med3): sf0.1's 3-batch replay reads
    # 6.5 s all-HOF vs 4.6 s all-Arrow, sf1 126 s vs 8.3 s
    "incremental_embedding_pairs": 50_000,
    # where interpreted signature work outgrows worker spin-up
    "minhash_signature": 20_000,
    # mid-size k*dim only (see clustering._assign): sf1 rehearsal r8,
    # k=64/dim=64 Arrow beat k=8 literal at 20k vectors
    "kmeans_assign": 20_000,
    # prefix filtering prunes ~nothing once the average gram is in 64+
    # documents (the round-9 sf1 17.6e9-row candidate join)
    "prefix_filter": 64.0,
}

#: recorded (above, below) kernel names where they are not arrow/hof
_NAMES: dict[str, tuple[str, str]] = {
    "minhash_signature": ("arrow", "column"),
    "kmeans_assign": ("arrow", "literal"),
    "prefix_filter": ("dense", "sparse"),
}

_CHOICES: dict[str, set[str]] = {}


def kernel_name(op: str, arrow: bool) -> str:
    """The name ``op`` records for the Arrow (dense) or JVM kernel."""
    return _NAMES.get(op, ("arrow", "hof"))[0 if arrow else 1]


def arrow_kernel(op: str, work: float) -> bool:
    """True when ``op`` should run its Arrow (dense) kernel for an input
    of ``work``; the choice is recorded under ``op``."""
    arrow = work >= ARROW_MIN_WORK[op]
    record_kernel(op, kernel_name(op, arrow))
    return arrow


def record_kernel(op: str, kernel: str) -> None:
    """Record that ``op`` selected ``kernel`` (e.g. 'arrow', 'hof',
    'column') at plan-construction time."""
    _CHOICES.setdefault(op, set()).add(kernel)


def drain_kernels() -> dict[str, str]:
    """Return and clear the choices recorded since the last drain: per
    op, its distinct kernel names, sorted and joined by ','."""
    out = {op: ",".join(sorted(names)) for op, names in _CHOICES.items()}
    _CHOICES.clear()
    return out


def est_rows(df, row_bytes: int) -> float:
    """Plan-statistics row estimate: optimizer sizeInBytes / approximate
    row width. Pure metadata (parquet footer sizes through the optimized
    plan) — NO job runs. Good to an order of magnitude, which is all the
    kernel thresholds need. CAVEAT: only meaningful for frames whose
    lineage reaches a file scan — a localCheckpoint'd frame (or an empty
    LocalRelation) reports a defaultSizeInBytes-class value that reads
    as "huge"; call ``.count()`` on those instead (cheap on a
    materialized checkpoint — the incremental_embedding_dedup lesson)."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        return float(int(size)) / max(row_bytes, 1)
    except Exception:
        return float("inf")  # unknown => big => Arrow (the scale default)


def vec_row_bytes(dim: int) -> int:
    """Row width of an (id, embedding) frame: id (8 B) + the array<float>
    payload at its ON-DISK width. The stats come from parquet file sizes,
    and random floats are near-incompressible, so 4*dim tracks the scan
    estimate (measured ~322 B/row actual vs 264 predicted at dim=64)."""
    return 8 + 4 * dim


def est_cross_pairs(corpus, queries, dim: int,
                    est_queries: int | None = None) -> float:
    """Estimated corpus x queries pair count of a brute-force scorer.
    The optimizer does not discount ``sizeInBytes`` for filters, so a
    caller that knows the (small, broadcast) query count passes
    ``est_queries``; otherwise a `WHERE id < 10` query set is estimated
    at full-table size."""
    rb = vec_row_bytes(dim)
    n_q = float(est_queries) if est_queries else est_rows(queries, rb)
    return est_rows(corpus, rb) * n_q
