"""Focal operator tests vs numpy stencil oracles; spatial partition
coherence."""
from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.operators import focal, raster, tile_raster, tiling


def _band_img(spark, zoom, tile_px):
    band = raster.synth_band(spark, zoom=zoom, tile_px=tile_px)
    w = 2**zoom * tile_px
    pdf = band.select("gx", "gy", "value").orderBy("gy", "gx").toPandas()
    return band, pdf["value"].to_numpy().reshape(w, w), w


def test_slope_matches_numpy_stencil(spark):
    band, img, w = _band_img(spark, 2, 8)
    # out-of-raster neighbours take the CENTER value (gdaldem 'center')
    tiles = tile_raster.tiles_from_pixels(band, tile=8)
    out = tile_raster.pixels_from_tiles(
        tile_raster.slope_tiles(tiles, tile=8, nty=w // 8, ntx=w // 8),
        tile=8, col="slope_deg", out="slope_deg",
    ).orderBy("gy", "gx").toPandas()
    got = out["slope_deg"].to_numpy().reshape(w, w)

    def v(dx, dy, x, y):
        nx, ny = x + dx, y + dy
        if 0 <= nx < w and 0 <= ny < w:
            return float(img[ny, nx])
        return float(img[y, x])

    for y in (0, 5, w - 1):
        for x in (0, 17, w - 1):
            dzdx = ((v(1, -1, x, y) + 2 * v(1, 0, x, y) + v(1, 1, x, y))
                    - (v(-1, -1, x, y) + 2 * v(-1, 0, x, y) + v(-1, 1, x, y))) / 8.0
            dzdy = ((v(-1, 1, x, y) + 2 * v(0, 1, x, y) + v(1, 1, x, y))
                    - (v(-1, -1, x, y) + 2 * v(0, -1, x, y) + v(1, -1, x, y))) / 8.0
            expect = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
            assert abs(got[y, x] - expect) < 1e-9, (x, y)


def test_hillshade_range_and_flat_surface(spark):
    flat = spark.range(16 * 16).select(
        (F.col("id") % 16).alias("gx"),
        (F.col("id") / 16).cast("bigint").alias("gy"),
        F.lit(100).alias("value"),
    )
    tiles = tile_raster.tiles_from_pixels(flat, tile=8)
    out = tile_raster.pixels_from_tiles(
        tile_raster.hillshade_tiles(tiles, tile=8, nty=2, ntx=2, altitude_deg=45.0),
        tile=8, col="shade", out="shade",
    ).toPandas()
    assert len(out) == 16 * 16
    # flat surface: shade = 255*sin(alt) everywhere
    expect = 255.0 * np.sin(np.radians(45.0))
    assert np.allclose(out["shade"], expect, atol=1e-9)


def test_bilinear_at_pixel_centers_is_identity(spark):
    band, img, w = _band_img(spark, 1, 8)
    pts = spark.createDataFrame(
        [(i, float(x) + 0.5, float(y) + 0.5) for i, (x, y) in
         enumerate([(0, 0), (3, 7), (15, 15), (8, 2)])],
        "sid bigint, px double, py double",
    )
    out = {r["sid"]: r["value"] for r in
           focal.sample_bilinear(band, pts, width=w, height=w).collect()}
    assert out[0] == img[0, 0]
    assert out[1] == img[7, 3]
    assert out[2] == img[15, 15]
    assert out[3] == img[2, 8]


def test_bilinear_midpoint_average(spark):
    band, img, w = _band_img(spark, 1, 8)
    pts = spark.createDataFrame([(1, 1.0, 0.5)], "sid bigint, px double, py double")
    out = focal.sample_bilinear(band, pts, width=w, height=w).collect()[0]["value"]
    assert out == (float(img[0, 0]) + float(img[0, 1])) / 2.0


def test_idw_exact_point_and_symmetry(spark):
    pts = spark.createDataFrame(
        [(1, 10.0, 10.0, 100.0), (2, 12.0, 10.0, 200.0)],
        "pid bigint, x double, y double, v double",
    )
    out = {(r["i"], r["j"]): r["value"] for r in
           focal.idw_grid(pts, cell=10.0, power=2, radius=15.0).collect()}
    # node (1,1) sits exactly on point 1 -> short-circuit to its value
    assert out[(1, 1)] == 100.0
    # node (2,1) at (20,10): d1=10, d2=8 -> weighted toward point 2
    w1, w2 = 1 / 100.0, 1 / 64.0
    assert abs(out[(2, 1)] - (100 * w1 + 200 * w2) / (w1 + w2)) < 1e-12


def test_spatial_partition_coherence(spark):
    from gdal_spark.sources import docs

    d = docs.synth_docs(spark, 20000).select("doc_id", "lon", "lat")
    parts = tiling.spatial_partition(d, res=10, num_partitions=8)
    # partitions should be spatially coherent: each partition's zorder
    # range must not overlap any other's (property of range partition)
    ranges = (
        parts.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").agg(F.min("zorder").alias("lo"), F.max("zorder").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) >= 2
    for a, b in zip(ranges, ranges[1:]):
        assert a["hi"] <= b["lo"]


def test_idw_grid_full_params_closed_form(spark):
    from gdal_spark.operators import focal

    # three points around node (0,0); cell=1 so node (0,0) exists
    pts = spark.createDataFrame(
        [(1, 3.0, 0.0, 10.0),   # d2=9, inside ellipse major axis
         (2, 0.0, 3.0, 20.0),   # d2=9, along minor axis -> OUTSIDE r2=2
         (3, 1.0, 0.0, 30.0)],  # d2=1, nearest
        "pid bigint, x double, y double, v double")
    # ellipse: r1=4 along x (angle 0), r2=2 along y -> point 2 excluded
    out = focal.idw_grid(pts, cell=1.0, power=2, radius1=4.0, radius2=2.0,
                         angle=0.0, smoothing=1.0, min_points=2).toPandas()
    row = out[(out["i"] == 0) & (out["j"] == 0)].iloc[0]
    # w = 1/(d2 + 1): v = (10/10 + 30/2) / (1/10 + 1/2)
    assert abs(row["value"] - (10.0 / 10.0 + 30.0 / 2.0) / (0.1 + 0.5)) < 1e-12
    # max_points=1 keeps only the nearest (pid 3)
    out1 = focal.idw_grid(pts, cell=1.0, power=2, radius1=4.0, radius2=2.0,
                          angle=0.0, smoothing=1.0, max_points=1).toPandas()
    row1 = out1[(out1["i"] == 0) & (out1["j"] == 0)].iloc[0]
    assert abs(row1["value"] - 30.0) < 1e-12
    # min_points=3 drops the node (only 2 ellipse hits)
    out3 = focal.idw_grid(pts, cell=1.0, power=2, radius1=4.0, radius2=2.0,
                          angle=0.0, smoothing=1.0, min_points=3).toPandas()
    assert len(out3[(out3["i"] == 0) & (out3["j"] == 0)]) == 0
    # rotate the ellipse 90deg: now point 2 is IN, points 1 excluded
    outr = focal.idw_grid(pts, cell=1.0, power=2, radius1=4.0, radius2=2.0,
                          angle=90.0, smoothing=1.0, min_points=1).toPandas()
    rowr = outr[(outr["i"] == 0) & (outr["j"] == 0)].iloc[0]
    assert abs(rowr["value"] - (20.0 / 10.0 + 30.0 / 2.0) / (0.1 + 0.5)) < 1e-9
