"""Driver-side plan construction of the hot-path operators.

Under PySpark's call-site capture every Column call costs several py4j
round trips, so the tile, cell, band and kNN column math is built as
SQL text with one expression per output column. These tests pin the
py4j round trips of building each plan (no action runs, except the
cover collect that the broadcast join needs) and check that column
names which need quoting in SQL text give the same results.
"""
from __future__ import annotations

import contextlib
import gc

import pandas as pd
from pyspark.sql import functions as F

from gdal_spark.operators import knn, tiling
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.sources import docs, polygons


@contextlib.contextmanager
def _round_trips(spark):
    """Counts py4j commands sent while the block runs. py4j's finalizer
    thread sends object-release commands whenever Python garbage is
    collected; those are left out, as they belong to earlier plans."""
    client = spark.sparkContext._gateway._gateway_client
    send, n = client.send_command, [0]

    def counted(command, *args, **kwargs):
        n[0] += not command.startswith("m\nd\n")
        return send(command, *args, **kwargs)

    gc.collect()
    client.send_command = counted
    try:
        yield n
    finally:
        del client.send_command


def test_plan_construction_round_trip_budget(spark):
    pts = docs.synth_docs(spark, 500).select("doc_id", "doc_index", "spans", "lon", "lat")
    cover = polygons.countries64_cover(spark, res=6)
    built = []
    budget = {"assign_tiles": 60, "assign_cell": 10, "knn projection": 20,
              "broadcast join": 300}
    got = {}
    for name, build in (
        ("assign_tiles", lambda: tiling.assign_tiles(pts, 12)),
        ("assign_cell", lambda: SJ.assign_cell(pts, res=6)),
        ("knn projection", lambda: knn._merc_cells(pts, "doc_index", "lon", "lat", 8, "p")),
        ("broadcast join", lambda: SJ.spatial_join_points_in_polygons(
            pts, cover, res=6,
            keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"])),
    ):
        with _round_trips(spark) as n:
            built.append(build())  # kept alive: no release commands mid-count
        got[name] = n[0]
    assert all(got[k] <= budget[k] for k in budget), got


def test_column_names_that_need_quoting(spark):
    plain = docs.synth_docs(spark, 3000).select(
        F.col("doc_index").alias("id"), "lon", "lat")
    spaced = plain.select("id", F.col("lon").alias("pt lon"), F.col("lat").alias("pt lat"))
    names = {"lon": "pt lon", "lat": "pt lat"}

    def rows(df, *cols):
        return sorted(map(tuple, df.select(*cols).collect()))

    tile_cols = ("id", "tx", "ty_tms", "ty_xyz", "quadkey")
    assert (rows(tiling.assign_tiles(spaced, 12, **names), *tile_cols)
            == rows(tiling.assign_tiles(plain, 12), *tile_cols))

    cover = polygons.countries64_cover(spark, res=6)
    for strategy in ("broadcast", "shuffle"):
        want = rows(SJ.spatial_join_points_in_polygons(
            plain, cover, res=6, strategy=strategy), "id", "poly_id")
        got = rows(SJ.spatial_join_points_in_polygons(
            spaced, cover, res=6, strategy=strategy, **names), "id", "poly_id")
        assert got == want and len(want) > 100, strategy

    queries = spark.createDataFrame(pd.DataFrame(
        {"query_id": [1, 2, 3], "lon": [10.0, -120.0, 170.0], "lat": [45.0, -30.0, 0.0]}))
    spaced_q = queries.select("query_id", F.col("lon").alias("pt lon"),
                              F.col("lat").alias("pt lat"))
    pts = plain.withColumnRenamed("id", "point_id")
    spaced_pts = spaced.withColumnRenamed("id", "point_id")
    knn_cols = ("query_id", "point_id", "rank")
    want = rows(knn.knn_join(pts, queries, k=4, res=4), *knn_cols)
    got = rows(knn.knn_join(spaced_pts, spaced_q, k=4, res=4, **names), *knn_cols)
    assert got == want and len(want) == 12
