"""Contour marching-squares and terrain-metric tests vs hand oracles."""
from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.operators import contour, tile_raster


def _ramp_band(spark, w):
    """value = gx: vertical contours at integer+t positions."""
    return spark.range(w * w).select(
        (F.col("id") % w).alias("gx"),
        (F.col("id") / w).cast("bigint").alias("gy"),
        (F.col("id") % w).alias("value"),
    )


def _terrain(band, w, t):
    """terrain_tiles over a w x w band in t x t tiles -> {(gx, gy): row}."""
    tiles = tile_raster.tiles_from_pixels(band, tile=t)
    out = tile_raster.terrain_tiles(tiles, tile=t, nty=w // t, ntx=w // t)
    rows = out.select(
        "ty", "tx",
        F.posexplode(F.arrays_zip("tpi", "tri", "roughness")).alias("_pos", "_m"),
    ).select(
        (F.col("tx") * t + F.col("_pos") % t).alias("gx"),
        (F.col("ty") * t + (F.col("_pos") / t).cast("bigint")).alias("gy"),
        "_m.tpi", "_m.tri", "_m.roughness",
    ).collect()
    assert len(rows) == w * w
    return {(r["gx"], r["gy"]): r for r in rows}


def _aspect(band, w, t):
    """aspect_tiles over a w x w band in t x t tiles -> {(gx, gy): deg}."""
    tiles = tile_raster.tiles_from_pixels(band, tile=t)
    out = tile_raster.aspect_tiles(tiles, tile=t, nty=w // t, ntx=w // t)
    px = tile_raster.pixels_from_tiles(out, tile=t, col="aspect_deg",
                                       out="aspect_deg")
    return {(r["gx"], r["gy"]): r["aspect_deg"] for r in px.collect()}


def test_contour_on_linear_ramp(spark):
    w = 8
    band = _ramp_band(spark, w)
    # level 3.? -> with integer values and level 3, cells between gx=3
    # and gx=4 cross (v00=3 not > 3, v10=4 > 3)
    segs = contour.contour_segments(band, level=3, width=w).collect()
    # one vertical contour line: w-1 cells in the crossing column
    assert len(segs) == w - 1
    for s in segs:
        # crossing interpolates between v=3 (at gx=3) and v=4 (at gx=4):
        # t = (3-3)/(4-3) = 0 -> x = 3.0 exactly, full-height segments
        assert s["x1"] == 3.0 and s["x2"] == 3.0
        assert abs(s["y2"] - s["y1"]) == 1.0


def test_contour_closed_loop_around_peak(spark):
    w = 5
    # single peak at center, zero elsewhere -> 4 segments forming a loop
    rows = [(x, y, 100 if (x, y) == (2, 2) else 0) for y in range(w) for x in range(w)]
    band = spark.createDataFrame(rows, "gx bigint, gy bigint, value bigint")
    segs = contour.contour_segments(band, level=50, width=w).collect()
    assert len(segs) == 4
    # each segment endpoint sits at the 0.5 interpolation point
    pts = sorted({(round(p, 6), round(q, 6)) for s in segs
                  for p, q in [(s["x1"], s["y1"]), (s["x2"], s["y2"])]})
    assert pts == [(1.5, 2.0), (2.0, 1.5), (2.0, 2.5), (2.5, 2.0)]


def test_terrain_metrics_flat_and_step(spark):
    w = 6
    flat = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"), (F.col("id") / w).cast("bigint").alias("gy"),
        F.lit(7).alias("value"),
    )
    out = _terrain(flat, w, 3).values()  # 2x2 tiles of 3
    assert all(r["tpi"] == 0.0 for r in out)
    assert all(r["tri"] == 0.0 for r in out)
    assert all(r["roughness"] == 0 for r in out)


def test_terrain_metrics_single_spike(spark):
    w = 5
    rows = [(x, y, 80 if (x, y) == (2, 2) else 0) for y in range(w) for x in range(w)]
    band = spark.createDataFrame(rows, "gx bigint, gy bigint, value bigint")
    out = _terrain(band, w, 5)
    c = out[(2, 2)]
    assert c["tpi"] == 80.0          # center minus mean(0)
    assert c["tri"] == 80.0          # all |80-0|
    assert c["roughness"] == 80
    n = out[(1, 2)]                  # direct neighbor
    assert n["tpi"] == -10.0         # 0 - 80/8
    assert n["roughness"] == 80
    far = out[(0, 0)]
    assert far["roughness"] == 0


def test_aspect_cardinal_directions(spark):
    w = 6
    # plane rising to the east: value = gx -> downslope faces WEST (270)
    band = _ramp_band(spark, w)
    out = _aspect(band, w, 3)  # 2x2 tiles of 3: (3, 3) sits on a tile corner
    assert abs(out[(3, 3)] - 270.0) < 1e-9
    # plane rising to the north (value = -gy => rising as gy decreases):
    band2 = spark.range(w * w).select(
        (F.col("id") % w).alias("gx"), (F.col("id") / w).cast("bigint").alias("gy"),
        (F.col("id") / w).cast("bigint").alias("value"),
    )
    out2 = _aspect(band2, w, 3)
    # value grows with gy (southward in screen coords == increasing y);
    # dz/dy > 0 -> downslope toward -y: aspect = north = 0
    assert abs(out2[(3, 3)] - 0.0) < 1e-9 or abs(out2[(3, 3)] - 360.0) < 1e-9
