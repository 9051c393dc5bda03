"""Tile / cell assignment as pure Spark Column expressions.

Every formula here mirrors gdal_spark.kernels.mercator (reference:
gdal2tiles.py:414-530) but stays entirely JVM-side — whole-stage
codegen, no Python in the hot path. The pandas-UDF path exists only in
the kernels for oracle cross-checks.

Cell ids use the same Z-order packing as kernels.cells, built from
shift/mask Column ops (5-step magic-number bit spread) — so cell
assignment of 10^12 rows is a codegen'd projection, and range
partitioning by cell id is a spatial partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ORIGIN_SHIFT = 20037508.342789244
TILE_SIZE = 256
MAX_LAT = 85.05112877980659


def merc_mx(lon: Column) -> Column:
    """LatLonToMeters x (gdal2tiles.py:425)."""
    return lon * F.lit(ORIGIN_SHIFT) / F.lit(180.0)


def merc_my(lat: Column) -> Column:
    """LatLonToMeters y (gdal2tiles.py:426-429)."""
    return (
        F.log(F.tan((F.lit(90.0) + lat) * F.lit(3.141592653589793) / F.lit(360.0)))
        / (F.lit(3.141592653589793) / F.lit(180.0))
    ) * F.lit(ORIGIN_SHIFT) / F.lit(180.0)


def _floor_coord(c: Column, origin: float, tile_deg: float) -> Column:
    """`c` raised to at least `origin - 2^53 * tile_deg`, 2^53 tiles
    below the grid's edge. ceil() of a double is a long that saturates
    at -2^63 for -inf or -1e300, and the "- 1" of the ceil-1 rule then
    overflows (ARITHMETIC_OVERFLOW under ANSI), failing the whole job.
    Only tile ids below -2^52 move; NaN and null pass through.
    Flooring the input column, not the tile-unit value, costs the
    fused join stage one compare instead of a second copy of the tile
    math."""
    lo = origin - float(2**53) * tile_deg
    return F.when(c < F.lit(lo), F.lit(lo)).otherwise(c)


def _tile_from_meters(m: Column, zoom: int, tile_size: int = TILE_SIZE) -> Column:
    """MetersToPixels + PixelsToTile ceil-1 rule (gdal2tiles.py:452-465)."""
    res = F.lit(2.0 * ORIGIN_SHIFT / tile_size / float(2**zoom))
    return (F.ceil((m + F.lit(ORIGIN_SHIFT)) / res / F.lit(float(tile_size))) - 1).cast("bigint")


def tms_tile(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """(tx, ty_tms) at fixed zoom. merc_my needs no floor: for a double
    lat it is finite, NaN, or null (log of a tan <= 0), never -inf — a
    double argument keeps tan(.) at least ~1e-19 away from 0 unless it
    is 0."""
    lon = _floor_coord(lon, -180.0, 360.0 / 2**zoom)
    return _tile_from_meters(merc_mx(lon), zoom), _tile_from_meters(merc_my(lat), zoom)


def clamp(c: Column, lo: int, hi: int) -> Column:
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def xyz_ty(ty_tms: Column, zoom: int) -> Column:
    """TMS->XYZ/Google flip (gdal2tiles.py:511-514)."""
    return F.lit(2**zoom - 1) - ty_tms


def quadkey(tx: Column, ty_tms: Column, zoom: int) -> Column:
    """Bing quadkey at fixed zoom (gdal2tiles.py:517-530), as a concat of
    per-bit digit expressions — JVM-side string build."""
    if zoom == 0:
        return F.lit("")
    tyx = xyz_ty(ty_tms, zoom)
    digits = []
    for i in range(zoom, 0, -1):
        sh = i - 1
        d = (F.shiftright(tx, sh) % 2 + F.lit(2) * (F.shiftright(tyx, sh) % 2)).cast("string")
        digits.append(d)
    return F.concat(*digits)


def geodetic_tile(lon: Column, lat: Column, zoom: int,
                  tile_size: int = TILE_SIZE,
                  tms_compatible: bool = True) -> tuple[Column, Column]:
    """EPSG:4326 geodetic profile tile (gdal2tiles.py:534-629
    GlobalGeodetic): lon/lat ARE the planar coords; pyramid top level
    is 2x1 tiles (tmscompatible resFact = 180/tile_size) or 1x1
    (resFact = 360/tile_size). Same ceil-1 PixelsToTile rule as
    mercator. Returns (tx, ty_tms) — unclamped, TMS orientation."""
    res_fact = 180.0 / tile_size if tms_compatible else 360.0 / tile_size
    res = F.lit(res_fact / float(2**zoom))
    tile_deg = res_fact * tile_size / 2**zoom
    px = (F.lit(180.0) + _floor_coord(lon, -180.0, tile_deg)) / res
    py = (F.lit(90.0) + _floor_coord(lat, -90.0, tile_deg)) / res
    tx = (F.ceil(px / F.lit(float(tile_size))) - 1).cast("bigint")
    ty = (F.ceil(py / F.lit(float(tile_size))) - 1).cast("bigint")
    return tx, ty


def geodetic_tile_columns(df, lon: str = "lon", lat: str = "lat",
                          zoom: int = 12, tile_size: int = TILE_SIZE,
                          tms_compatible: bool = True):
    """Attach (gtx, gty_tms) geodetic-profile tiles, clamped to the 2:1
    grid (2*2^z x 2^z for tmscompatible)."""
    nx = (2 if tms_compatible else 1) * 2**zoom
    ny = 2**zoom if tms_compatible else max(1, 2**zoom // 2)
    tx, ty = geodetic_tile(F.col(lon), F.col(lat), zoom, tile_size,
                           tms_compatible)
    return (
        df.withColumn("gtx", clamp(tx, 0, nx - 1))
        .withColumn("gty_tms", clamp(ty, 0, ny - 1))
    )


def pack_cell(tx: Column, ty_xyz: Column, res: int) -> Column:
    """(tx, ty_xyz) -> int64 row-major cell id with resolution marker bit
    (kernels.cells.pack_cell twin). Row-major keeps the codegen'd
    expression tree small; Z-order is a separate partitioning key."""
    marker = F.lit(1 << (2 * res))
    return marker.bitwiseOR(F.shiftleft(tx, res)).bitwiseOR(ty_xyz)


def cell(lon: Column, lat: Column, res: int) -> Column:
    """lat/lon -> cell id at resolution res; clamped to grid like
    kernels.cells.cell."""
    lim = 2**res - 1
    tx, ty_tms = tms_tile(lon, lat, res)
    txc = clamp(tx, 0, lim)
    tyc = clamp(xyz_ty(ty_tms, res), 0, lim)
    return pack_cell(txc, tyc, res)


def tile_columns(df, lon: str = "lon", lat: str = "lat", zoom: int = 12,
                 clamped: bool = True):
    """Attach (tx, ty_tms, ty_xyz, quadkey) at fixed zoom — the
    tile-assignment operator as one codegen'd projection."""
    lim = 2**zoom - 1
    tx, ty = tms_tile(F.col(lon), F.col(lat), zoom)
    if clamped:
        tx = clamp(tx, 0, lim)
        ty = clamp(ty, 0, lim)
    return (
        df.withColumn("tx", tx)
        .withColumn("ty_tms", ty)
        .withColumn("ty_xyz", xyz_ty(F.col("ty_tms"), zoom))
        .withColumn("quadkey", quadkey(F.col("tx"), F.col("ty_tms"), zoom))
    )
