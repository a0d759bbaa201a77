"""The cached events layout (tables.cache_tables): one partition per core,
hash-clustered on to_date(ts); the SLO queries read the same rows from it
as from parquet, and the cache entry follows its SparkContext."""

from __future__ import annotations

import os
import sys

from service_level_reporting_spark import registry
from service_level_reporting_spark.plans import formatted_plan
from service_level_reporting_spark.tables import (
    _CACHE, cache_tables, clear_table_cache, load_tables)

from .conftest import SF_DIR_001

sys.path.append(os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"))
from workloads import SLO_QUERIES, compare  # noqa: E402

KEY = (SF_DIR_001, "events")
Q = registry.aux_queries()


def test_events_cache_has_one_partition_per_core(spark):
    try:
        cache_tables(spark, SF_DIR_001, ("events",))
        ev = load_tables(spark, SF_DIR_001, ("events",))["events"]
        assert ev is _CACHE[KEY]
        assert (ev.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism)
    finally:
        clear_table_cache()


def test_daily_health_over_cache_plans_no_exchange(spark):
    """HashPartitioning(to_date(ts)) satisfies the (day, user_id) grouping
    by the subset rule, so the query adds no shuffle above the cache."""
    try:
        cache_tables(spark, SF_DIR_001, ("events",))
        df = Q["slo_daily_health"](spark, SF_DIR_001)
        df.collect()                      # final adaptive plan
        p = formatted_plan(df)
        # the plan tree above the cache scan; the cache's own build
        # exchange (the repartition) prints below it
        above_cache = p.split("InMemoryTableScan")[0]
        assert "Final Plan" in above_cache, p
        assert "Exchange" not in above_cache, p
    finally:
        clear_table_cache()


def test_slo_queries_same_rows_cached_and_uncached(spark):
    """Compared like the benchmark checks them: order-insensitive, floats
    within 2e-6 (the queries round to 6 decimals)."""
    want = {name: Q[name](spark, SF_DIR_001).toPandas()
            for name in SLO_QUERIES}
    try:
        cache_tables(spark, SF_DIR_001, ("events",))
        for name in SLO_QUERIES:
            got = Q[name](spark, SF_DIR_001).toPandas()
            assert len(got) > 0, name
            assert compare(got, want[name]) is None, name
    finally:
        clear_table_cache()


def test_new_session_bypasses_cache_and_keeps_entry(spark):
    try:
        cache_tables(spark, SF_DIR_001, ("events",))
        cached = _CACHE[KEY]
        other = spark.newSession()
        ev = load_tables(other, SF_DIR_001, ("events",))["events"]
        assert ev is not cached
        assert ev.sparkSession is other
        assert ev.count() == cached.count()
        assert _CACHE[KEY] is cached
        # caching again from the other session keeps the live entry
        cache_tables(other, SF_DIR_001, ("events",))
        assert _CACHE[KEY] is cached
    finally:
        clear_table_cache()


class _StoppedContext:
    """Stands in for a frame cached on a SparkContext since stopped: the
    frame's session holds a context that is not the live one."""

    class sparkSession:
        sparkContext = object()

    def unpersist(self):
        pass


def test_entry_from_stopped_context_is_recached(spark):
    try:
        _CACHE[KEY] = _StoppedContext()
        ev = load_tables(spark, SF_DIR_001, ("events",))["events"]
        assert KEY not in _CACHE
        assert ev.sparkSession is spark
        _CACHE[KEY] = _StoppedContext()
        cache_tables(spark, SF_DIR_001, ("events",))
        assert _CACHE[KEY].sparkSession is spark
        assert (load_tables(spark, SF_DIR_001, ("events",))["events"]
                is _CACHE[KEY])
    finally:
        clear_table_cache()
