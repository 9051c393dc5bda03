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


def test_scope_releases_label_and_contour_checkpoints(spark, monkeypatch):
    """The distributed `label_pixels` path and `contour_rings` cut their
    loops' plans with `cache.checkpoint`; with the call and its action
    inside a scope, no persisted RDD is left after it. RDD ids, not
    counts: Spark's ContextCleaner may drop other tests' RDDs at any
    time. The raster is one no other test builds."""
    from pyspark.sql import functions as F

    from gdal_spark.operators import contour, raster

    def persisted():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    monkeypatch.setattr(raster, "LABEL_DRIVER_MAX_EDGES", 0)
    px = raster.synth_raster(spark, 56, 30, block=9, n_values=3)
    w = 32
    band = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"), (F.col("id") / w).cast("bigint").alias("gy"))
    d1 = (F.col("gx") - 8) * (F.col("gx") - 8) + (F.col("gy") - 8) * (F.col("gy") - 8)
    d2 = (F.col("gx") - 24) * (F.col("gx") - 24) + (F.col("gy") - 24) * (F.col("gy") - 24)
    segs = contour.contour_segments(band.withColumn("value", F.least(d1, d2)),
                                    level=11, width=w)
    before = persisted()
    for run in (
        lambda: raster.label_pixels(px, width=56, tile=13).select("comp").distinct().count(),
        lambda: contour.contour_rings(segs, rounds=8).count(),
    ):
        with cache.scope():
            assert run() > 1
            assert persisted() - before  # the loop's checkpoints, still held
        assert persisted() <= before
