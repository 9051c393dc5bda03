"""Tile-array raster model: conversions, halo exchange, and the 3x3
stencils checked cell by cell against per-pixel numpy references.

The references read each neighbour with the gdaldem 'center' edge rule
(an out-of-raster neighbour is the centre pixel) and fold in the same
order as the tile kernels, so the +-*/ chain is bit-identical; only
atan/sqrt may differ by an ulp (the references take hypot).
"""
import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.operators import raster, tile_raster


@pytest.fixture(scope="module")
def band(spark):
    return raster.synth_band(spark, zoom=2, tile_px=8)  # 32x32, 4x4 tiles


def _img(band, w, h):
    pdf = band.select("gx", "gy", "value").orderBy("gy", "gx").toPandas()
    return pdf["value"].to_numpy().astype(np.float64).reshape(h, w)


def _nbr(img):
    """v(dx, dy, x, y): the (x+dx, y+dy) value; off the raster, the
    centre value (the gdaldem 'center' edge rule)."""
    h, w = img.shape

    def v(dx, dy, x, y):
        nx, ny = x + dx, y + dy
        if 0 <= nx < w and 0 <= ny < h:
            return float(img[ny, nx])
        return float(img[y, x])

    return v


def _slope_ref(img):
    """Horn slope in degrees, one pixel at a time."""
    v = _nbr(img)
    out = np.empty(img.shape)
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            dzdx = ((v(1, -1, x, y) + 2 * v(1, 0, x, y) + v(1, 1, x, y))
                    - (v(-1, -1, x, y) + 2 * v(-1, 0, x, y) + v(-1, 1, x, y))) / 8.0
            dzdy = ((v(-1, 1, x, y) + 2 * v(0, 1, x, y) + v(1, 1, x, y))
                    - (v(-1, -1, x, y) + 2 * v(0, -1, x, y) + v(1, -1, x, y))) / 8.0
            out[y, x] = np.degrees(np.arctan(np.hypot(dzdx, dzdy)))
    return out


def _terrain_ref(img):
    """(tpi, tri, roughness) arrays, one pixel at a time: tpi = centre
    - mean(8 neighbours), tri = mean |centre - neighbour|, roughness =
    max - min of the 9-cell window; neighbours in row-major order."""
    v = _nbr(img)
    offs = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)]
    tpi, tri, rough = (np.empty(img.shape) for _ in range(3))
    for y in range(img.shape[0]):
        for x in range(img.shape[1]):
            c = float(img[y, x])
            nbrs = [v(dx, dy, x, y) for dx, dy in offs]
            s = 0.0
            absdev = 0.0
            for n in nbrs:
                s += n
                absdev += abs(c - n)
            tpi[y, x] = c - s / 8.0
            tri[y, x] = absdev / 8.0
            rough[y, x] = max(nbrs + [c]) - min(nbrs + [c])
    return tpi, tri, rough


def test_pixel_tile_roundtrip(spark, band):
    tiles = tile_raster.tiles_from_pixels(band, tile=8)
    assert tiles.count() == 16
    back = tile_raster.pixels_from_tiles(tiles, tile=8)
    a = band.select("gx", "gy", F.col("value").cast("double").alias("value")) \
        .orderBy("gy", "gx").collect()
    b = back.orderBy("gy", "gx").collect()
    assert [r["value"] for r in a] == [r["value"] for r in b]


def test_slope_matches_per_pixel_model(spark, band):
    """Tile-stencil slope == a per-pixel numpy Horn model on every
    cell: the 32x32 band (4x4 tiles of 8) and a 24x16 band (ntx=3,
    nty=2, so the tile grid is not square). Equal to ~1 ulp of atan/
    sqrt, far below the query contract's 6dp."""
    rng = np.random.default_rng(11)
    img24 = rng.integers(0, 1000, (16, 24))
    band24 = spark.createDataFrame(
        [(x, y, int(img24[y, x])) for y in range(16) for x in range(24)],
        "gx bigint, gy bigint, value bigint")
    for b, w, h in ((band, 32, 32), (band24, 24, 16)):
        tiles = tile_raster.tiles_from_pixels(b, tile=8)
        got = tile_raster.pixels_from_tiles(
            tile_raster.slope_tiles(tiles, tile=8, nty=h // 8, ntx=w // 8),
            tile=8, col="slope_deg", out="slope_deg",
        ).orderBy("gy", "gx").toPandas()["slope_deg"].to_numpy()
        assert got.shape == (w * h,)
        assert np.abs(got.reshape(h, w) - _slope_ref(_img(b, w, h))).max() < 1e-12, (w, h)


def test_terrain_matches_numpy_reference(spark, band):
    tpi, tri, rough = _terrain_ref(_img(band, 32, 32))
    tiles = tile_raster.tiles_from_pixels(band, tile=8)
    out = tile_raster.terrain_tiles(tiles, tile=8, nty=4, ntx=4)
    z = out.select(
        "ty", "tx",
        F.posexplode(F.arrays_zip("tpi", "tri", "roughness")).alias("_pos", "_m"),
    ).select(
        (F.col("tx") * 8 + F.col("_pos") % 8).alias("gx"),
        (F.col("ty") * 8 + (F.col("_pos") / 8).cast("bigint")).alias("gy"),
        F.col("_m.tpi").alias("tpi"), F.col("_m.tri").alias("tri"),
        F.col("_m.roughness").cast("bigint").alias("roughness"),
    ).orderBy("gy", "gx").collect()
    assert len(z) == 32 * 32
    for b in z:
        y, x = b["gy"], b["gx"]
        assert tpi[y, x] == b["tpi"] and tri[y, x] == b["tri"] \
            and rough[y, x] == b["roughness"]


def test_halo_assembly_clamp(spark):
    """halo=2 clamp assembly reproduces np.pad(..., mode='edge')."""
    w, t, h = 16, 8, 2
    img = np.arange(w * w, dtype=np.float64).reshape(w, w)
    rows = [(int(x), int(y), float(img[y, x])) for y in range(w) for x in range(w)]
    px = spark.createDataFrame(rows, "gx bigint, gy bigint, value double")
    tiles = tile_raster.tiles_from_pixels(px, tile=t)
    got = tile_raster.halo_apply(
        tiles, lambda p, ty, tx: {"padded": p}, tile=t, nty=2, ntx=2,
        halo=h, boundary="clamp", out_cols=["padded"],
    ).collect()
    padded_full = np.pad(img, h, mode="edge")
    for r in got:
        ty, tx = r["ty"], r["tx"]
        exp = padded_full[ty * t:ty * t + t + 2 * h, tx * t:tx * t + t + 2 * h]
        assert np.asarray(r["padded"]).reshape(t + 2 * h, t + 2 * h) == pytest.approx(exp)


def test_lanczos_tiles_interior_matches_direct():
    """Vectorized tile lanczos == scalar reference formula on a small
    case (interior points, no clamping)."""
    # scalar formula evaluated directly
    rng = np.random.default_rng(3)
    img = rng.integers(0, 100, (16, 16)).astype(np.float64)

    def scalar_sample(px, py):
        fx = min(max(px, 0.5), 15.5) - 0.5
        fy = min(max(py, 0.5), 15.5) - 0.5
        x0, y0 = int(np.floor(fx)), int(np.floor(fy))
        tx, ty = fx - x0, fy - y0
        a = 3

        def lw(d):
            if d == 0.0:
                return 1.0
            pd_ = 3.141592653589793 * d
            return (np.sin(pd_) / pd_) * (np.sin(pd_ / a) / (pd_ / a))

        taps = range(-2, 4)
        wx = [lw(tx - i) for i in taps]
        wy = [lw(ty - j) for j in taps]
        num = 0.0
        for j, wyj in zip(taps, wy):
            row = 0.0
            for i, wxi in zip(taps, wx):
                cx = min(max(x0 + i, 0), 15)
                cy = min(max(y0 + j, 0), 15)
                row = row + img[cy, cx] * wxi
            num = num + row * wyj
        return num / (sum(wx) * sum(wy))

    # vectorized version over a clamp-padded array (the tile kernel body)
    pts = [(3.7, 4.2), (8.0, 8.0), (0.2, 15.8), (12.49, 3.51)]
    padded = np.pad(img, 3, mode="edge")
    fx = np.clip([p[0] for p in pts], 0.5, 15.5) - 0.5
    fy = np.clip([p[1] for p in pts], 0.5, 15.5) - 0.5
    x0 = np.floor(fx).astype(int)
    y0 = np.floor(fy).astype(int)
    txv, tyv = fx - x0, fy - y0

    def lwv(d):
        pd_ = 3.141592653589793 * d
        with np.errstate(invalid="ignore", divide="ignore"):
            w = (np.sin(pd_) / pd_) * (np.sin(pd_ / 3) / (pd_ / 3))
        return np.where(d == 0.0, 1.0, w)

    taps = list(range(-2, 4))
    wx = [lwv(txv - i) for i in taps]
    wy = [lwv(tyv - j) for j in taps]
    num = np.zeros(len(pts))
    for j, wyj in zip(taps, wy):
        row = np.zeros(len(pts))
        for i, wxi in zip(taps, wx):
            row = row + padded[y0 + j + 3, x0 + i + 3] * wxi
        num = num + row * wyj
    sx = np.zeros(len(pts))
    for w_ in wx:
        sx = sx + w_
    sy = np.zeros(len(pts))
    for w_ in wy:
        sy = sy + w_
    got = num / (sx * sy)
    exp = [scalar_sample(*p) for p in pts]
    assert got == pytest.approx(exp, abs=1e-12)


def _variant_grid(spark, values, variant, **kw):
    """Run hillshade_variant_tiles over a 16x16 numpy array -> array."""
    import pandas as pd

    vals = np.asarray(values, dtype=float)
    rows = [(int(x), int(y), float(vals[y, x]))
            for y in range(16) for x in range(16)]
    px = spark.createDataFrame(rows, "gx int, gy int, value double")
    tiles = tile_raster.tiles_from_pixels(px, tile=8)
    out = tile_raster.hillshade_variant_tiles(
        tiles, tile=8, nty=2, ntx=2, variant=variant, **kw)
    got = tile_raster.pixels_from_tiles(out, tile=8, col="shade", out="shade") \
        .orderBy("gy", "gx").collect()
    return np.array([r["shade"] for r in got]).reshape(16, 16)


def test_hillshade_variants_flat(spark):
    """Flat terrain contracts (gdaldem_lib.cpp): combined -> 255
    (comb=1), multidirectional -> 1 + 254*sin(alt), igor -> 255."""
    import math

    flat = np.full((16, 16), 42.0)
    assert _variant_grid(spark, flat, "combined")[5, 5] == pytest.approx(255.0)
    assert _variant_grid(spark, flat, "multidirectional")[5, 5] == \
        pytest.approx(1.0 + 254.0 * math.sin(math.radians(45.0)))
    assert _variant_grid(spark, flat, "igor")[5, 5] == pytest.approx(255.0)


def test_hillshade_variants_orientation(spark):
    """North-up convention: with the default NW sun (az=315), a
    NW-facing slope (rising toward the south-east, i.e. value grows
    with gx and gy) is brighter than the SE-facing mirror for every
    flavor — the directional fact the sign conventions encode."""
    import math

    g = np.add.outer(np.arange(16.0), np.arange(16.0))  # rises to SE
    for variant in ("combined", "multidirectional", "igor"):
        nw = _variant_grid(spark, g, variant, z_factor=0.3)[8, 8]
        se = _variant_grid(spark, g[::-1, ::-1].copy(), variant,
                           z_factor=0.3)[8, 8]
        assert nw > se, (variant, nw, se)
        flatv = (255.0 if variant != "multidirectional"
                 else 1.0 + 254.0 * math.sin(math.radians(45.0)))
        assert nw > 0.9 * flatv, (variant, nw)


def test_hillshade_standard_orientation(spark):
    """Same directional fact for the standard flavor after the
    north-up sign fix (classic formula, 0..255 scale)."""
    g = np.add.outer(np.arange(16.0), np.arange(16.0))
    rows = [(int(x), int(y), float(g[y, x])) for y in range(16) for x in range(16)]
    px = spark.createDataFrame(rows, "gx int, gy int, value double")
    tiles = tile_raster.tiles_from_pixels(px, tile=8)

    def shade_at(tiles_df):
        out = tile_raster.hillshade_tiles(tiles_df, tile=8, nty=2, ntx=2,
                                          z_factor=0.3)
        r = tile_raster.pixels_from_tiles(out, tile=8, col="shade", out="shade") \
            .filter((F.col("gx") == 8) & (F.col("gy") == 8)).collect()
        return r[0]["shade"]

    nw = shade_at(tiles)
    rows2 = [(int(x), int(y), float(g[::-1, ::-1][y, x]))
             for y in range(16) for x in range(16)]
    px2 = spark.createDataFrame(rows2, "gx int, gy int, value double")
    se = shade_at(tile_raster.tiles_from_pixels(px2, tile=8))
    assert nw > se
