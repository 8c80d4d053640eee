"""Query registry — the single source for ``queries()`` / ``oracle_sql()``.

Every implemented operator from SURVEY.md §2 registers here under its SURVEY
ID (e.g. ``a1_latest_version``). The driver executes each Spark callable at
sf0.01 and compares row-count + schema + order-insensitive value hash against
the DuckDB oracle SQL.

Determinism rules enforced across this repo (SURVEY.md §7 "hard parts"):
  * every computed column is aliased identically in Spark and SQL;
  * money/float aggregates are computed in DECIMAL (exact) and only cast to
    DOUBLE at the end — bit-identical across engines;
  * every top-k orders by a unique tie-break key;
  * collected lists are sorted.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query under its SURVEY.md §2 ID.

    ``oracle`` is DuckDB ANSI SQL over the pre-registered views; omit it only
    for genuinely non-SQL-expressible ops (the driver then records a weaker
    rows-only check).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query id {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registrations run."""
    from dmshadoop_spark import queries  # noqa: F401  (imports submodules)

