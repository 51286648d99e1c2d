"""Column-expression libraries: text analysis and vector math, all built on
native ``pyspark.sql.functions`` (JVM-side, codegen-friendly) — no Python
UDFs in these hot paths.

The release precision lives here because this package imports nothing
else from ``puffbird_spark``, so ``functions/`` and ``operators/`` can
both read it."""

#: decimal places every approximate value (cosine, log, sqrt, ratio) is
#: rounded to before release, identically on Spark and the DuckDB oracle
RELEASE_DP = 6

#: decimal scale inputs snap to (``decimal(20, SNAP_SCALE)``) before
#: exact moment sums
SNAP_SCALE = 6
