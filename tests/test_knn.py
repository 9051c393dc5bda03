"""kNN ring-expansion join vs brute-force numpy oracle."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels import mercator
from gdal_spark.operators.knn import knn_join
from gdal_spark.sources import derive


def _mk_points(spark, n, lon_salt, lat_salt, id_name):
    i = F.col("id")
    from gdal_spark.sources.docs import hash01_col

    return spark.range(n).select(
        i.alias(id_name),
        (F.lit(-180.0) + F.lit(360.0) * hash01_col(i, lon_salt)).alias("lon"),
        (F.lit(-85.05) + F.lit(170.1) * hash01_col(i, lat_salt)).alias("lat"),
    )


def _bruteforce(pts, qs, k):
    """{(query_id, point_id, rank)} from (id, lon, lat) row lists."""
    pid, plon, plat = (np.array(c) for c in zip(*pts))
    pmx, pmy = mercator.lat_lon_to_meters(plat, plon)
    out = set()
    for qid, qlon, qlat in qs:
        qmx, qmy = mercator.lat_lon_to_meters(np.array([qlat]), np.array([qlon]))
        d2 = (pmx - qmx[0]) ** 2 + (pmy - qmy[0]) ** 2
        for r, p in enumerate(np.lexsort((pid, d2))[:k], start=1):
            out.add((qid, int(pid[p]), r))
    return out


def _hashed_rows(n, lon_salt, lat_salt):
    """The (id, lon, lat) rows `_mk_points` builds in Spark."""
    i = np.arange(n)
    lon = -180 + 360 * derive.hash01_np(i, lon_salt)
    lat = -85.05 + 170.1 * derive.hash01_np(i, lat_salt)
    return list(zip(i.tolist(), lon.tolist(), lat.tolist()))


def _oracle(n_pts, n_q, k):
    return _bruteforce(_hashed_rows(n_pts, 1, 2), _hashed_rows(n_q, 3, 4), k)


@pytest.mark.parametrize("res", [3, 5, 7])
def test_knn_matches_bruteforce(spark, res):
    n_pts, n_q, k = 2000, 40, 5
    pts = _mk_points(spark, n_pts, 1, 2, "point_id")
    qs = _mk_points(spark, n_q, 3, 4, "query_id")
    got = knn_join(pts, qs, k=k, res=res, point_id="point_id", query_id="query_id")
    got_set = {(r["query_id"], r["point_id"], r["rank"]) for r in got.collect()}
    assert got_set == _oracle(n_pts, n_q, k)


def test_knn_k_larger_than_points(spark):
    pts = _mk_points(spark, 3, 1, 2, "point_id")
    qs = _mk_points(spark, 2, 3, 4, "query_id")
    got = knn_join(pts, qs, k=10, res=4, point_id="point_id", query_id="query_id")
    rows = got.collect()
    # every query returns all 3 points, ranked
    assert len(rows) == 6
    assert {r["rank"] for r in rows} == {1, 2, 3}


def _rows(df):
    return {(r["query_id"], r["point_id"], r["rank"]) for r in df.collect()}


# A tight cluster of 100 points near (100E, 40N); two queries inside it,
# and one far query at (100W, 40S) with two stray points beside it and
# one point about three res-5 cells away. The far query's 5th neighbour
# is in the cluster, ~18 cells away, so it is found only in the
# whole-grid round (s = 32, the 6th), while the stray and mid points
# ride forward as carried top-k from rounds 1 and 3.
_CLUSTER = [(i, 100.0 + 0.05 * (i % 10), 40.0 + 0.05 * (i // 10)) for i in range(100)]
_FAR_PTS = [(1000, -100.1, -40.1), (1001, -99.9, -39.8), (1002, -70.0, -40.0)]
_QS = [(1, 100.2, 40.2), (2, 100.3, 40.1), (3, -100.0, -40.0)]


def _far_fixture(spark):
    pts = spark.createDataFrame(_CLUSTER + _FAR_PTS, "point_id bigint, lon double, lat double")
    qs = spark.createDataFrame(_QS, "query_id bigint, lon double, lat double")
    return pts, qs


def test_knn_multi_round_carries_topk(spark):
    pts, qs = _far_fixture(spark)
    got = _rows(knn_join(pts, qs, k=5, res=5))
    assert got == _bruteforce(_CLUSTER + _FAR_PTS, _QS, 5)
    assert {(q, p) for q, p, _ in got if q == 3} >= {(3, 1000), (3, 1001), (3, 1002)}


def test_knn_max_rounds_emits_only_finished(spark):
    pts, qs = _far_fixture(spark)
    got = _rows(knn_join(pts, qs, k=5, res=5, max_rounds=2))
    # the near queries finish in round 1; the far one needs 6 rounds
    assert got == _bruteforce(_CLUSTER + _FAR_PTS, _QS[:2], 5)


def test_knn_ties_broken_by_point_id(spark):
    dup = [(i, 12.5, 41.9) for i in (40, 7, 23, 3, 15)]  # one location, five ids
    near = [(i, 12.5 + 1e-4 * j, 41.9) for j, i in enumerate((8, 2, 30), start=1)]
    pts_rows = dup + near + [(100 + i, -50.0 + i, 10.0) for i in range(20)]
    qs_rows = [(1, 12.5, 41.9), (2, 12.5 - 1e-3, 41.9), (3, 12.5 + 2e-4, 41.9)]
    pts = spark.createDataFrame(pts_rows, "point_id bigint, lon double, lat double")
    qs = spark.createDataFrame(qs_rows, "query_id bigint, lon double, lat double")
    for k in (3, 6):
        got = _rows(knn_join(pts, qs, k=k, res=6))
        assert got == _bruteforce(pts_rows, qs_rows, k)
    assert {(p, r) for q, p, r in got if q == 1} >= {(3, 1), (7, 2), (15, 3)}


def test_knn_default_res_matches_explicit(spark):
    n_pts, n_q, k = 2000, 40, 5
    pts = _mk_points(spark, n_pts, 1, 2, "point_id")
    qs = _mk_points(spark, n_q, 3, 4, "query_id")
    auto = _rows(knn_join(pts, qs, k=k))
    assert auto == _oracle(n_pts, n_q, k)
    for res in (3, 5, 7):
        assert _rows(knn_join(pts, qs, k=k, res=res)) == auto


def test_knn_leaves_no_persisted_rdds(spark):
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    pts = _mk_points(spark, 500, 1, 2, "point_id")
    qs = _mk_points(spark, 10, 3, 4, "query_id")
    assert knn_join(pts, qs, k=3).count() == 30
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_knn_output_schema(spark):
    pts = _mk_points(spark, 300, 1, 2, "pid")
    qs = _mk_points(spark, 5, 3, 4, "qid").withColumn("qid", F.col("qid").cast("int"))
    out = knn_join(pts, qs, k=2, point_id="pid", query_id="qid")
    want = [("qid", "int"), ("pid", "bigint"), ("rank", "int")]
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == want
    assert out.count() == 10
    empty = knn_join(pts, qs.limit(0), k=2, point_id="pid", query_id="qid")
    assert [(f.name, f.dataType.simpleString()) for f in empty.schema.fields] == want
    assert empty.count() == 0
