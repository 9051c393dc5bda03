"""Driver-side plan construction of the hot-path operators.

Under PySpark's call-site capture every Column call costs several py4j
round trips, so the tile, cell, band and kNN column math is built as
SQL text with one expression per output column. These tests pin the
py4j round trips of building each plan (no action runs, except the
cover collect that the broadcast join needs), the Spark jobs a kNN
call and a repeated join run, and check that column names which need
quoting in SQL text give the same results.
"""
from __future__ import annotations

import contextlib
import gc
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F
from test_knn import _bruteforce, _hashed_rows, _oracle

from gdal_spark.operators import knn, tiling
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.sources import derive, docs, polygons


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


@contextlib.contextmanager
def _jobs(spark, group):
    """Ids of the Spark jobs the block runs, read from a job group."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _calls(df, method):
    """The DataFrames whose `method` (of df's class) runs in the block."""
    cls, seen = type(df), []
    orig = getattr(cls, method)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(cls, method, lambda self, *a, **k: seen.append(self) or orig(self, *a, **k))
        yield seen


def test_knn_res_from_plan_statistics_runs_no_count(spark, tmp_path):
    """With res=None over a parquet scan the cell size comes from the
    optimized plan's statistics: no count job, the same jobs as the
    explicit res, and one round join keyed on one packed long cell id
    (Spark's LongHashedRelation)."""
    n, path = 20_000, str(tmp_path / "points")
    docs.synth_docs(spark, n).selectExpr(
        "doc_index AS point_id", "lon", "lat").write.parquet(path)
    pts = spark.read.parquet(path)
    q_rows = _hashed_rows(12, 3, 4)
    qs = spark.createDataFrame(q_rows, "query_id bigint, lon double, lat double")
    want = _bruteforce(_hashed_rows(n, derive.SALT_LON, derive.SALT_LAT), q_rows, 5)
    res = knn._auto_res(pts, 5)
    jobs = {}
    for r in (None, res):
        with _calls(pts, "count") as counts, _calls(pts, "toPandas") as actions, \
                _jobs(spark, f"knn-res-{r}") as ids:
            out = knn.knn_join(pts, qs, k=5, res=r)
        assert not counts
        jobs[r] = len(ids)
        assert {tuple(x) for x in out.collect()} == want
    assert jobs[None] == jobs[res] <= 4, jobs  # the query collect and the ring rounds
    keys = [k for a in actions for k in re.findall(
        r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]",
        a._jdf.queryExecution().executedPlan().toString())]
    assert keys and all(re.fullmatch(r"_pcell#\d+L", a) and re.fullmatch(r"_cell#\d+L", b)
                        for a, b in keys), keys


def test_knn_unknown_size_input_is_counted(spark):
    """A createDataFrame input reports Spark's default size, i.e. none:
    res=None then falls back to one count(), with the exact result."""
    pts = spark.createDataFrame(_hashed_rows(3000, 1, 2),
                                "point_id bigint, lon double, lat double")
    qs = spark.createDataFrame(_hashed_rows(40, 3, 4), "query_id bigint, lon double, lat double")
    assert knn._planned_rows(pts) is None
    with _calls(pts, "count") as counts:
        out = knn.knn_join(pts, qs, k=4)
    assert len(counts) == 1
    assert {tuple(x) for x in out.collect()} == _oracle(3000, 40, 4)


def test_join_collects_each_cover_object_once(spark):
    """The broadcast arm's polygon side is built once per cover object
    and (res, extra poly cols): a second join with the same object runs
    no job while its plan is built; another res gets its own entry."""
    pts = docs.synth_docs(spark, 500).select("doc_index", "lon", "lat")
    cover = polygons.countries64_cover(spark, res=6)
    built = []
    for tag, r in (("first", 6), ("again", 6), ("res5", 5)):
        with _jobs(spark, f"cover-{tag}-{id(cover)}") as ids:
            built.append(SJ.spatial_join_points_in_polygons(
                pts, cover, res=r, keep_point_cols=["doc_index"]))
        assert bool(ids) == (tag != "again"), (tag, ids)
    assert set(SJ._SIDES[cover]) == {(6, ()), (5, ())}
    assert built[0].count() == built[1].count() > 100


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
