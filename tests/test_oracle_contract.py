"""THE correctness gate, run locally: every registered query vs DuckDB.

Mirrors the driver's t2 check (CORRECTNESS_r{N}.json) at sf0.001 so a
hash mismatch never ships.  Parameterized over the registry, so adding
a query automatically adds its test.
"""

from __future__ import annotations

import pytest

from fletcher_spark.queries import registry
from tests.conftest import assert_matches_oracle

registry.load_all()


@pytest.mark.parametrize("name", sorted(registry.QUERIES))
def test_query_matches_oracle(spark, duck, name):
    assert_matches_oracle(spark, duck, name)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_every_query_has_oracle_or_is_flagged():
    """Queries without oracle SQL must be the documented non-SQL ops."""
    missing = set(registry.QUERIES) - set(registry.ORACLE)
    allowed_prefixes = ("udf_", "dedup_minhash", "dedup_simhash", "ann_ivf", "stream_", "mm_")
    for name in missing:
        assert name.startswith(allowed_prefixes), (
            f"{name} lacks oracle SQL but is not a documented non-SQL-expressible op"
        )


def test_entry_exposes_registry_in_registration_order():
    """``queries()`` and ``oracle_sql()`` mirror the registry, in order."""
    import __spark_entry__ as e

    assert list(e.queries()) == list(registry.QUERIES)
    assert e.oracle_sql() == registry.ORACLE
    assert list(e.oracle_sql()) == list(registry.ORACLE)
