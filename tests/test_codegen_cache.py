"""Spark's generated-class cache is sized to the query surface.

Whole-stage codegen classes are compiled once per distinct generated
source and cached JVM-wide.  At Spark's default of 100 entries the
columnar workload (118 distinct classes) evicted its own classes, so
every warm pass recompiled them.  ``get_spark`` sets the cache size from
``session.STATIC_CONFS``; a warm pass then compiles nothing.
"""

from __future__ import annotations

from fletcher_spark.queries import registry
from fletcher_spark.session import STATIC_CONFS
from perfbench.workloads import WORKLOADS
from tests.conftest import SF_DIR

_KEY = "spark.sql.codegen.cache.maxEntries"
_AQE = "spark.sql.adaptive.enabled"


def test_session_conf_carries_cache_size(spark):
    assert spark.sparkContext.getConf().get(_KEY) == STATIC_CONFS[_KEY]


def test_warm_columnar_pass_compiles_nothing(spark):
    """Two passes over the columnar workload's ops: the second compiles
    no class.  AQE is off for the passes because with it on a codegen
    stage's id follows the order in which concurrent query stages
    finish, and the id is part of the generated source: a query whose
    order changes between runs compiles new classes at any cache size."""
    registry.load_all()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def one_pass() -> int:
        before = compiles.getCount()
        for name in WORKLOADS["columnar"].ops:
            registry.QUERIES[name](spark, SF_DIR).write.mode("overwrite").format("noop").save()
        return compiles.getCount() - before

    aqe = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        assert one_pass() > 0  # the cold pass compiles; the counter is live
        assert one_pass() == 0
    finally:
        spark.conf.set(_AQE, aqe)
