"""Declared query surface (SURVEY.md §2): importing this package populates
the QUERIES/ORACLES registries consumed by ``__spark_entry__`` and
``bench.py``, in import order."""

from .base import ORACLES, QUERIES, load  # noqa: F401
from . import (  # noqa: F401,E402
    engine_q,
    explode_q,
    functions_q,
    geo_q,
    llm_q,
    relational,
    sources_q,
    sql_q,
    streaming_q,
    udf_q,
    windows_q,
)

__all__ = ["QUERIES", "ORACLES", "load"]
