"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 shape) on sf0.001.
``queries()`` / ``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with its DuckDB-equivalent SQL, both in the registration
order of ``fletcher_spark.queries.registry``, which keeps the two in
sync.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _registry():
    from fletcher_spark.queries import registry

    registry.load_all()
    return registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    reg = _registry()
    return reg.QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(_registry().QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL for each query (omissions → rows-only check)."""
    return dict(_registry().ORACLE)
