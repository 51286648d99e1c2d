"""Deterministic md5-derived randomness, identical on Spark and DuckDB.

Distributed jobs cannot use RNG state for noise or feature hashing: a
retried task would redraw and break exactly-once semantics, and an
oracle replay could never match. The portable construction used by the
DP-noise and hashing-trick operators is instead a pure function of the
row's own key:

- ``u = (int(md5(key)[:8], 16) + 0.5) / 16^8`` — a uniform in (0, 1)
  derived from the first 8 hex digits of the md5. ``16^8 = 2^32`` is
  exact in a double, so the division is bit-identical on any engine.
- buckets / sign bits come from *disjoint* hex spans of the same digest
  so they are independent of ``u``.

Both engines ship ``md5`` over UTF-8 strings; DuckDB 1.x has no
``conv``, so the oracle fragment rebuilds the integer as the positional
polynomial ``sum(strpos('0123456789abcdef', digit_i) - 1) * 16^(n-i)``
— numerically identical to Spark's ``conv(hex, 16, 10)``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import RELEASE_DP

__all__ = [
    "md5_hex_int",
    "md5_uniform",
    "md5_bucket",
    "md5_sign",
    "laplace_noise",
    "oracle_hex_int",
    "oracle_uniform",
    "oracle_laplace",
]


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def md5_hex_int(key: str | Column, start: int = 1, digits: int = 8) -> Column:
    """BIGINT from ``digits`` hex chars of ``md5(key)`` starting at
    1-based ``start``. ``digits <= 15`` keeps the value under 2^60."""
    if digits > 15:
        raise ValueError("digits > 15 overflows BIGINT via conv")
    h = F.substring(F.md5(_col(key)), start, digits)
    return F.conv(h, 16, 10).cast("long")


def md5_uniform(key: str | Column) -> Column:
    """Deterministic uniform in (0, 1): ``(hexint_8 + 0.5) / 2^32``.
    The +0.5 keeps the value strictly inside the open interval so
    inverse-CDF transforms (log of 0) cannot blow up."""
    return (md5_hex_int(key, 1, 8).cast("double") + F.lit(0.5)) / F.lit(
        float(16**8)
    )


def md5_bucket(key: str | Column, n_buckets: int, start: int = 9) -> Column:
    """Deterministic bucket in [0, n_buckets): hex span ``start..start+7``
    (disjoint from the uniform's span by default). ``n_buckets`` is
    validated here so every caller (hashed features, negative
    sampling, DSIR, ...) surfaces a config error at plan time instead
    of an ANSI REMAINDER_BY_ZERO at run time (probe batch 10)."""
    if int(n_buckets) < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    return md5_hex_int(key, start, 8) % F.lit(int(n_buckets))


def md5_sign(key: str | Column, start: int = 17) -> Column:
    """Deterministic +1/-1 from one hex digit (< 8 -> +1)."""
    return F.when(md5_hex_int(key, start, 1) < 8, F.lit(1)).otherwise(
        F.lit(-1)
    )


def laplace_noise(key: str | Column, scale: float) -> Column:
    """Laplace(0, scale) noise via the inverse CDF of the md5 uniform:
    ``-scale * sign(u - .5) * ln(1 - 2|u - .5|)``, rounded so the libm
    ``ln`` agrees across engines at the comparison precision."""
    u = md5_uniform(key)
    centered = u - F.lit(0.5)
    mag = F.log(F.lit(1.0) - F.lit(2.0) * F.abs(centered))
    return F.round(F.lit(-float(scale)) * F.signum(centered) * mag, RELEASE_DP)


# --- DuckDB oracle fragments (keep in lockstep with the Columns above) ---

def oracle_hex_int(key_sql: str, start: int = 1, digits: int = 8) -> str:
    """SQL rebuilding ``md5_hex_int`` as a positional polynomial over
    ``strpos`` digit lookups (DuckDB has no base-16 conv)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr(__h, {start + i}, 1)) - 1)"
        f" * {16 ** (digits - 1 - i)}"
        for i in range(digits)
    )
    return f"(SELECT CAST({terms} AS BIGINT) FROM (SELECT md5({key_sql}) AS __h))"


def oracle_uniform(key_sql: str) -> str:
    return (
        f"((CAST({oracle_hex_int(key_sql, 1, 8)} AS DOUBLE) + 0.5)"
        f" / {float(16 ** 8)!r})"
    )


def oracle_laplace(key_sql: str, scale: float) -> str:
    u = oracle_uniform(key_sql)
    return (
        f"round(-({float(scale)!r}) * sign({u} - 0.5)"
        f" * ln(1 - 2 * abs({u} - 0.5)), {RELEASE_DP})"
    )


def gumbel_noise(key: str | Column) -> Column:
    """Standard Gumbel(0, 1) noise via the inverse CDF of the md5
    uniform: ``-ln(-ln(u))`` — the Gumbel-max trick makes
    ``argmax(score + gumbel)`` an EXACT sample from the exponential
    mechanism's softmax over scores, without ever materializing the
    normalizing constant. Rounded at 9 dp so the libm ``ln``
    agrees across engines at the comparison precision."""
    u = md5_uniform(key)
    return F.round(-F.log(-F.log(u)), 9)


def oracle_gumbel(key_sql: str) -> str:
    u = oracle_uniform(key_sql)
    return f"round(-ln(-ln({u})), 9)"
