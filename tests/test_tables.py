"""Table loaders: per-session relation and row-count caches."""

from __future__ import annotations

from decisions_kinesis_spark.sources import tables


def test_table_caches_evict_other_session_entries(spark, sf_dir):
    dead = ("dead-app-id", sf_dir, "region")
    tables._RELATION_CACHE[dead] = "stale"
    tables._COUNT_CACHE[dead] = -1
    tables.load_table(spark, "region", sf_dir)
    assert dead not in tables._RELATION_CACHE
    assert tables.table_count(spark, "region", sf_dir) == 5
    assert dead not in tables._COUNT_CACHE
    app = spark.sparkContext.applicationId
    assert {k[0] for k in tables._RELATION_CACHE} == {app}
    assert {k[0] for k in tables._COUNT_CACHE} == {app}
