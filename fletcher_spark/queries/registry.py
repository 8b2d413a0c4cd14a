"""Query registry: one named entry per implemented operator (SURVEY.md §2).

Each registration binds a Spark callable ``(spark, sf_dir) -> DataFrame``
to the equivalent ANSI-SQL string DuckDB runs on the same parquet tables.
Keeping both in one ``@query`` decorator keeps column aliases in sync —
the driver's comparator hashes values after sorting columns *by name*,
so a drifting alias is a correctness failure even when values match.
``QUERIES`` and ``ORACLE`` keep registration order (the module order of
``load_all``, then definition order within a module); that is the order
``__spark_entry__`` exposes and ``tools/check_queries.py --window``
slices.

Determinism rules every query follows:

* floating-point aggregates are ``round(x, 4)`` on BOTH sides (summation
  order differs between engines; 4 decimals absorbs it);
* timestamps never leave a query raw — they are cast to epoch seconds
  (Spark ``cast("long")`` == DuckDB ``epoch(ts)::BIGINT`` under the UTC
  session timezone set by ``load_tables``);
* every output that feeds a LIMIT is ordered with a unique tiebreaker.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
#: Names excluded from bench.py's headline loop (e.g. O(n²) verifiers
#: that exist for correctness cross-checks, not as scale paths).
BENCH_EXCLUDE: set[str] = set()


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` → driver does a rows-only check
    (reserved for genuinely non-SQL-expressible ops)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registrations run."""
    from fletcher_spark.queries import (  # noqa: F401
        tpch,
        relational,
        columnar,
        strings,
        textpipe,
        dedup,
        similarity,
        events,
        multimodal,
        io_ops,
        llmprep,
        analytic,
        profiling,
        changedata,
        governance,
        search,
        sketches,
    )
