"""Driver-contract surface: entry() must run on a BARE SparkSession (the
driver builds its own session without our confs) and every queries() entry
must produce a stable schema at sf0.001."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def test_entry_runs_on_bare_session(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"url", "cluster_id", "is_duplicate"}


def test_queries_and_oracles_consistent():
    qs, os_ = entrymod.queries(), entrymod.oracle_sql()
    assert set(os_) <= set(qs), "oracle without a query"
    # SQL-expressible coverage: at least 12 oracle-gated entries
    assert len(os_) >= 12


@pytest.mark.parametrize("name", sorted(entrymod.queries()))
def test_each_query_runs(spark, name):
    """Every query returns a frame, and none leaks a persisted frame into
    the session's CacheManager (earlier test modules may hold their own
    cached fixtures, so the count must come back to where it started)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.numCachedEntries()
    fn = entrymod.queries()[name]
    df = fn(spark, SF)
    assert cache.numCachedEntries() == cached_before, name
    assert df.columns, name
    assert df.count() >= 0
