"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 (smoke), ``queries()``
exposes every implemented SURVEY.md §2 operator, and ``oracle_sql()`` gives
the DuckDB-equivalent SQL for the hash-comparison correctness gate.

Implementations live in ``dmshadoop_spark`` (registry pattern:
dmshadoop_spark/registry.py collects every module in
dmshadoop_spark/queries/).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dmshadoop_spark import registry  # noqa: E402

registry.load_all()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the TPC-H-Q1-shaped pricing
    summary (SURVEY §2 A6) — scan → filter → multi-key hash agg, the pattern
    the reference executed as client-side loops (src/DMS.py:375-392)."""
    return registry.QUERIES["a6_q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registration
    order."""
    return dict(registry.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB ANSI SQL oracles; keys missing here (vs queries()) are
    intentionally rows-only ops (approximate / binary / engine-specific)."""
    return dict(registry.ORACLE)
