"""Scoped ownership of persisted tables (gdal_spark.cache)."""
from __future__ import annotations

import threading

from gdal_spark import cache


def _cached(df) -> bool:
    return df.storageLevel.useMemory or df.storageLevel.useDisk


def test_scope_releases_only_its_own_thread_and_level(spark):
    """Each scope unpersists what was persisted inside it and not in an
    inner scope; a persist on another thread (a foreachBatch callback)
    is not recorded; a plan the caller cached already keeps its cache;
    outside any scope the table stays persisted."""
    outer_df, inner_df, thread_df, free_df, own_df = (
        spark.range(n).selectExpr("id * 7 AS x") for n in (11, 12, 13, 14, 15))
    own_df.persist()
    with cache.scope():
        cache.persist(spark.range(15).selectExpr("id * 7 AS x"))
        cache.persist(outer_df)
        with cache.scope():
            cache.persist(inner_df)
            t = threading.Thread(target=cache.persist, args=(thread_df,))
            t.start()
            t.join(timeout=60)
            assert not t.is_alive()
        assert not _cached(inner_df) and _cached(outer_df)
    assert not _cached(outer_df) and _cached(thread_df) and _cached(own_df)
    cache.persist(free_df)
    assert _cached(free_df)
    for df in (thread_df, free_df, own_df):
        df.unpersist()
