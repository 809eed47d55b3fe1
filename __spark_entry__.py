"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke on sf0.001.
``queries()`` — every implemented operator (SURVEY.md §2 + §7).
``oracle_sql()`` — DuckDB-equivalent SQL per query (the correctness gate).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


_OPERATOR_MODULES = (
    "payload",
    "relational",
    "windows_ext",
    "asof",
    "textops",
    "multimodal",
    "udfs",
    "pipeline",
    "similarity",
    "dedup",
    "corpus",
    "graphs",
    "layout",
    "analytics_ext",
    "linalg",
    "clustering",
    "sketches_ext",
    "pysource",
    "probes",
)

# The driver walks queries() in dict order and gates a capped prefix of
# it, so these cross-module regression canaries lead; every other query
# follows in _OPERATOR_MODULES order.  Every query is checked locally
# by tools/oracle_check.py.
_SENTINELS = (
    "flagship_premium_filter",
    "q1_pricing_summary",
    "window_tumbling_hourly",
    "dedup_exact",
)


def _registries():
    import importlib

    merged: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    oracles: dict[str, str] = {}
    for name in _OPERATOR_MODULES:
        try:
            m = importlib.import_module(f"decisions_kinesis_spark.operators.{name}")
        except ImportError:
            continue
        dup = merged.keys() & m.QUERIES.keys()
        if dup:
            raise ValueError(f"{name} re-registers queries {sorted(dup)}")
        merged.update(m.QUERIES)
        oracles.update(m.ORACLES)
    queries = {q: merged.pop(q) for q in _SENTINELS}
    queries.update(merged)
    return queries, oracles


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from decisions_kinesis_spark.operators.payload import flagship_premium_filter

    return flagship_premium_filter(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _registries()[0]


def oracle_sql() -> dict[str, str]:
    return _registries()[1]
