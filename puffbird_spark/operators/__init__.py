"""Custom operators the DataFrame API lacks as single calls: as-of join,
dedup family (exact / MinHash-LSH / SimHash / word+char n-gram Jaccard),
similarity search (brute-force / SRP-LSH / IVF), cluster resolution
(connected components), sessionization, MERGE upsert, incremental time
rollups, skew tooling, z-order layout, Count-Min sketch, multimodal
column plumbing."""

from ..functions import RELEASE_DP
from .asof import asof_join  # noqa: F401
from .dedup import (  # noqa: F401
    exact_dedup,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_banding_config,
    minhash_candidate_pairs,
    simhash_pairs,
)
from .graph import connected_components, dedup_clusters  # noqa: F401
from .layout import z_value, zorder_repartition  # noqa: F401
from .merge import merge_upsert  # noqa: F401
from .rollup_time import hypertable_rollup, incremental_rollup  # noqa: F401
from .sessionize import session_stats, sessionize  # noqa: F401
from .similarity import cosine_topk, ivf_topk, lsh_bucket_topk  # noqa: F401
from .skew import key_histogram, replicated_join, salted_agg  # noqa: F401

__all__ = [
    "asof_join",
    "connected_components",
    "cosine_topk",
    "dedup_clusters",
    "exact_dedup",
    "exact_dedup_groups",
    "hypertable_rollup",
    "incremental_rollup",
    "ivf_topk",
    "jaccard_pairs",
    "key_histogram",
    "lsh_banding_config",
    "lsh_bucket_topk",
    "merge_upsert",
    "minhash_candidate_pairs",
    "replicated_join",
    "salted_agg",
    "session_stats",
    "sessionize",
    "simhash_pairs",
    "z_value",
    "zorder_repartition",
]


def warn_missing_tiebreak(operator: str) -> None:
    """Shared ordered-window determinism warning (ADVICE r12 / r13
    self-review dedup): operators that sequence per-entity rows by a
    timestamp emit this when the caller omits the unique tiebreak
    column that makes the order total under tied timestamps."""
    import warnings

    warnings.warn(
        f"{operator} without order_tiebreak: tied timestamps make the "
        f"per-entity sequence nondeterministic — pass a unique column "
        f"to make the order total", stacklevel=3)


def nano_release(units_col: str):
    """Shared release step of the NANO-UNIT LADDER (r14: born in
    anderson_darling_two_sample, reused by benford_first_digit and
    changepoint_variance — one definition so the precision-critical
    constants cannot drift between copies, the _require_indicator
    lesson): given a LONG column of floor(value·1e9) units, return
    the pure-integer HALF_UP release at 6 dp as a double.

    ``units_col`` is a SQL expression STRING (a column name or an
    aggregate like ``sum(__cu)``) — the division MUST be Spark's
    integer ``div`` (``/`` on longs is double division, inexact past
    2^53, and variance-scale unit sums get there), and ``div`` is
    only reachable through ``F.expr``.

    Why the ladder exists: statistics that are rationals with small
    denominators sit ON 10-dp half boundaries, where
    ``round(double, 9)`` diverges across engines (Spark rounds the
    exact binary value; SQL engines scale-and-round). ``floor(t·1e9)``
    of identical doubles is identical everywhere, and everything
    after it is integer arithmetic. The SQL twin of this release is
    ``CAST((units + {half}) // {div} AS DOUBLE) / 10^6``."""
    from pyspark.sql import functions as F

    half, div = 10 ** (9 - RELEASE_DP) // 2, 10 ** (9 - RELEASE_DP)
    return (F.expr(f"(({units_col}) + {half}) div {div}")
            .cast("double") / float(10 ** RELEASE_DP))


def drop_nan_rows(df, *cols):
    """Shared NaN≡NULL complete-case filter (r14 continuation
    self-review #1-3, one definition — the _require_indicator
    lesson): operators that snap a value column to DECIMAL have a
    silent NaN hole — NaN passes ``isNotNull`` but casts to NULL
    decimal, so COUNTS include the row while SUMS drop it, silently
    corrupting every moment. Filters ``~isnan`` for each named
    column whose type is float/double (other types cannot hold NaN);
    call it wherever a value column feeds exact-decimal arithmetic,
    BEFORE the decimal cast."""
    from pyspark.sql import functions as F, types as T

    for c in cols:
        if isinstance(df.schema[c].dataType,
                      (T.DoubleType, T.FloatType)):
            df = df.filter(~F.isnan(c))
    return df
