"""Spark Column tile math == numpy kernel oracle, row for row.

The JVM expressions in gdal_spark.functions.tiles must reproduce the
numpy kernels (which are themselves pinned to the reference formulas by
test_kernels_mercator) exactly — including the ceil-1 boundary rule.
"""
from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.functions import tiles as TF
from gdal_spark.kernels import cells, mercator
from gdal_spark.operators import tiling
from gdal_spark.sources import derive, docs


def _doc_points(spark, n=4000):
    return docs.synth_docs(spark, n).select("doc_index", "lon", "lat")


def test_tile_columns_match_kernel(spark):
    # quadkeys are built in chunks of at most 18 digits: 13, 18, 19 and
    # 24 cross the chunk boundary
    for zoom in (0, 1, 2, 5, 12, 13, 18, 19, 24):
        df = TF.tile_columns(_doc_points(spark), zoom=zoom, clamped=True)
        pdf = df.orderBy("doc_index").toPandas()
        i = pdf["doc_index"].to_numpy()
        lon = derive.lon_np(i)
        lat = derive.lat_np(i)
        lim = 2**zoom - 1
        etx, ety = mercator.lat_lon_to_tile(lat, lon, zoom)
        etx = np.clip(etx, 0, lim)
        ety = np.clip(ety, 0, lim)
        np.testing.assert_array_equal(pdf["tx"].to_numpy(), etx, err_msg=f"z={zoom} tx")
        np.testing.assert_array_equal(pdf["ty_tms"].to_numpy(), ety, err_msg=f"z={zoom} ty")
        np.testing.assert_array_equal(
            pdf["ty_xyz"].to_numpy(), mercator.tms_to_xyz(ety, zoom)
        )
        eqk = mercator.quadkey(etx, ety, zoom)
        assert pdf["quadkey"].tolist() == eqk.tolist(), f"z={zoom} quadkey"


def test_cell_column_matches_kernel(spark):
    for res in (1, 6, 10):
        df = _doc_points(spark).withColumn("cell", F.expr(TF.cell("lon", "lat", res)))
        pdf = df.orderBy("doc_index").toPandas()
        i = pdf["doc_index"].to_numpy()
        expected = cells.cell(derive.lat_np(i), derive.lon_np(i), res)
        np.testing.assert_array_equal(pdf["cell"].to_numpy(), expected)


def test_boundary_points_exact_rule(spark):
    # points exactly on tile boundaries at z=1: lon 0 maps to px=256.0
    # exactly -> belongs to the LOWER tile (tx=0), per the ceil-1 rule.
    pdf = spark.createDataFrame(
        [(0, 0.0, 0.0), (1, -180.0, 0.0), (2, 90.0, 0.0)], "id long, lon double, lat double"
    )
    out = TF.tile_columns(pdf, zoom=1, clamped=True).orderBy("id").collect()
    assert out[0]["tx"] == 0          # lon=0 boundary -> lower tile
    assert out[1]["tx"] == 0          # world edge clamped
    assert out[2]["tx"] == 1          # px=384 -> tile 1


def test_assign_tiles_clamps_extreme_longitudes(spark):
    # lon = -inf / -1e300 must not overflow the long in ceil(...) - 1
    # (ARITHMETIC_OVERFLOW under ANSI fails the job): like any point
    # beyond the grid they clamp to its edge; finite boundaries hold
    lons = [-np.inf, -1e300, -180.0, np.nextafter(-180.0, 0), 0.0,
            1e-9, 1e300, np.inf, np.nan, None]
    pdf = spark.createDataFrame(
        [(i, x if x is None else float(x), 10.0) for i, x in enumerate(lons)],
        "id long, lon double, lat double")
    out = tiling.assign_tiles(pdf, zoom=12).orderBy("id").collect()
    assert [r["tx"] for r in out] == [0, 0, 0, 0, 2047, 2048, 4095, 4095, 0, 0]
    assert {r["ty_tms"] for r in out} == {mercator.lat_lon_to_tile(10.0, 0.0, 12)[1]}
    geo = TF.geodetic_tile_columns(pdf, zoom=12).orderBy("id").collect()
    assert [r["gtx"] for r in geo] == [0, 0, 0, 0, 4095, 4096, 8191, 8191, 0, 0]


def test_spark_plan_is_codegen_only(spark):
    # the tile-assignment projection must not contain a Python UDF stage
    df = TF.tile_columns(_doc_points(spark), zoom=12)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_quadkey_to_xyz_round_trips_assign_tiles(spark):
    # quadkey -> (zoom, tx, ty_xyz) inverts assign_tiles, z0's empty
    # quadkey included (Spark's sequence(1, 0) is not empty)
    for zoom in (0, 1, 12, 24):
        tiled = tiling.assign_tiles(_doc_points(spark, 500), zoom=zoom)
        back = tiling.quadkey_to_xyz(
            tiled.select("doc_index", "quadkey",
                         F.col("tx").alias("tx0"), F.col("ty_xyz").alias("ty0")))
        rows = back.collect()
        assert len(rows) == 500
        for r in rows:
            assert (r["zoom"], r["tx"], r["ty_xyz"]) == (zoom, r["tx0"], r["ty0"]), r
