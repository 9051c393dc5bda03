"""Tile / cell assignment as Spark SQL expression text.

Every formula here mirrors gdal_spark.kernels.mercator (reference:
gdal2tiles.py:414-530) but stays entirely JVM-side — whole-stage
codegen, no Python in the hot path. The pandas-UDF path exists only in
the kernels for oracle cross-checks.

Each function takes SQL text (a backtick-quoted column name, see
`quote`, or any expression) and returns SQL text; callers turn one
output column into one `F.expr`. Under PySpark's call-site capture
every Column call costs about six py4j round trips: a z12
`tile_columns` built from chained Column calls takes over 1,200 round
trips of driver time per plan, as SQL text it takes a few dozen.
Double literals are written `repr(x) + "D"` (see `dbl`): a bare 180.0
parses as DECIMAL, which would change the arithmetic.

Cell ids use the same row-major packing as kernels.cells, built from
shift/or ops — so cell assignment of 10^12 rows is a codegen'd
projection, and range partitioning by cell id is a spatial
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ORIGIN_SHIFT = 20037508.342789244
TILE_SIZE = 256
MAX_LAT = 85.05112877980659
_PI = 3.141592653589793
_QUADKEY_CHUNK = 18  # digits per long: 10^18 + 0.33 * 10^18 < 2^63


def quote(name: str) -> str:
    """A column name as SQL text, e.g. `pt lon`."""
    return "`" + name.replace("`", "``") + "`"


def dbl(x: float) -> str:
    """A double literal as SQL text."""
    return f"({float(x)!r}D)"


def merc_mx(lon: str) -> str:
    """LatLonToMeters x (gdal2tiles.py:425)."""
    return f"((({lon}) * {dbl(ORIGIN_SHIFT)}) / {dbl(180.0)})"


def merc_my(lat: str) -> str:
    """LatLonToMeters y (gdal2tiles.py:426-429)."""
    return (f"(((ln(tan((({dbl(90.0)} + ({lat})) * {dbl(_PI)}) / {dbl(360.0)}))"
            f" / ({dbl(_PI)} / {dbl(180.0)})) * {dbl(ORIGIN_SHIFT)}) / {dbl(180.0)})")


def _floor_coord(c: str, origin: float, tile_deg: float) -> str:
    """`c` raised to at least `origin - 2^53 * tile_deg`, 2^53 tiles
    below the grid's edge. ceil() of a double is a long that saturates
    at -2^63 for -inf or -1e300, and the "- 1" of the ceil-1 rule then
    overflows (ARITHMETIC_OVERFLOW under ANSI), failing the whole job.
    Only tile ids below -2^52 move; NaN and null pass through.
    Flooring the input column, not the tile-unit value, costs the
    fused join stage one compare instead of a second copy of the tile
    math."""
    lo = dbl(origin - float(2**53) * tile_deg)
    return f"(CASE WHEN ({c}) < {lo} THEN {lo} ELSE ({c}) END)"


def _tile_from_meters(m: str, zoom: int, tile_size: int = TILE_SIZE) -> str:
    """MetersToPixels + PixelsToTile ceil-1 rule (gdal2tiles.py:452-465)."""
    res = dbl(2.0 * ORIGIN_SHIFT / tile_size / float(2**zoom))
    return (f"CAST(ceil(((({m}) + {dbl(ORIGIN_SHIFT)}) / {res}) / {dbl(tile_size)})"
            f" - 1 AS BIGINT)")


def tms_tile(lon: str, lat: str, zoom: int) -> tuple[str, str]:
    """(tx, ty_tms) at fixed zoom. merc_my needs no floor: for a double
    lat it is finite, NaN, or null (log of a tan <= 0), never -inf — a
    double argument keeps tan(.) at least ~1e-19 away from 0 unless it
    is 0."""
    lon = _floor_coord(lon, -180.0, 360.0 / 2**zoom)
    return _tile_from_meters(merc_mx(lon), zoom), _tile_from_meters(merc_my(lat), zoom)


def clamp(c: str, lo: int, hi: int) -> str:
    return f"least(greatest({c}, {lo}), {hi})"


def xyz_ty(ty_tms: str, zoom: int) -> str:
    """TMS->XYZ/Google flip (gdal2tiles.py:511-514)."""
    return f"({2**zoom - 1} - ({ty_tms}))"


def quadkey(tx: str, ty_tms: str, zoom: int) -> str:
    """Bing quadkey at fixed zoom (gdal2tiles.py:517-530). Digit i is
    bit i of tx plus twice bit i of ty_xyz, taken with bit ops like
    kernels.mercator.quadkey; the digits are summed as digit * 10^i
    onto 10^n, so n digits become one long and one cast, and the
    leading 1 (kept for the zeros) is cut off. Zooms past 18 concat
    chunks of at most 18 digits."""
    if zoom == 0:
        return "''"
    tyx = xyz_ty(ty_tms, zoom)

    def digit(sh: int) -> str:
        y = f"shiftright({tyx}, {sh - 1})" if sh else f"shiftleft({tyx}, 1)"
        return f"((shiftright({tx}, {sh}) & 1) | ({y} & 2))"

    chunks = []
    for top in range(zoom, 0, -_QUADKEY_CHUNK):  # bit shifts top-1 .. base
        base = max(top - _QUADKEY_CHUNK, 0)
        digits = " + ".join(f"{digit(sh)} * {10 ** (sh - base)}"
                            for sh in range(top - 1, base - 1, -1))
        chunks.append(f"substring(CAST({10 ** (top - base)} + {digits} AS STRING), 2)")
    return chunks[0] if len(chunks) == 1 else f"concat({', '.join(chunks)})"


def geodetic_tile(lon: str, lat: str, zoom: int,
                  tile_size: int = TILE_SIZE,
                  tms_compatible: bool = True) -> tuple[str, str]:
    """EPSG:4326 geodetic profile tile (gdal2tiles.py:534-629
    GlobalGeodetic): lon/lat ARE the planar coords; pyramid top level
    is 2x1 tiles (tmscompatible resFact = 180/tile_size) or 1x1
    (resFact = 360/tile_size). Same ceil-1 PixelsToTile rule as
    mercator. Returns (tx, ty_tms) — unclamped, TMS orientation."""
    res_fact = 180.0 / tile_size if tms_compatible else 360.0 / tile_size
    res = dbl(res_fact / float(2**zoom))
    tile_deg = res_fact * tile_size / 2**zoom

    def tile(c: str, origin: float) -> str:
        p = f"(({dbl(-origin)} + {_floor_coord(c, origin, tile_deg)}) / {res})"
        return f"CAST(ceil({p} / {dbl(tile_size)}) - 1 AS BIGINT)"

    return tile(lon, -180.0), tile(lat, -90.0)


def geodetic_tile_columns(df: DataFrame, lon: str = "lon", lat: str = "lat",
                          zoom: int = 12, tile_size: int = TILE_SIZE,
                          tms_compatible: bool = True) -> DataFrame:
    """Attach (gtx, gty_tms) geodetic-profile tiles, clamped to the 2:1
    grid (2*2^z x 2^z for tmscompatible)."""
    nx = (2 if tms_compatible else 1) * 2**zoom
    ny = 2**zoom if tms_compatible else max(1, 2**zoom // 2)
    tx, ty = geodetic_tile(quote(lon), quote(lat), zoom, tile_size, tms_compatible)
    return df.withColumns({"gtx": F.expr(clamp(tx, 0, nx - 1)),
                           "gty_tms": F.expr(clamp(ty, 0, ny - 1))})


def pack_cell(tx: str, ty_xyz: str, res: int) -> str:
    """(tx, ty_xyz) -> int64 row-major cell id with resolution marker bit
    (kernels.cells.pack_cell twin). Row-major keeps the codegen'd
    expression tree small; Z-order is a separate partitioning key."""
    return f"(({1 << (2 * res)} | shiftleft({tx}, {res})) | {ty_xyz})"


def cell_xy(lon: str, lat: str, res: int) -> tuple[str, str]:
    """(tx, ty_xyz) cell coords at `res`, clamped to the grid."""
    lim = 2**res - 1
    tx, ty_tms = tms_tile(lon, lat, res)
    return clamp(tx, 0, lim), clamp(xyz_ty(ty_tms, res), 0, lim)


def cell(lon: str, lat: str, res: int) -> str:
    """lat/lon -> cell id at resolution res; clamped to grid like
    kernels.cells.cell."""
    return pack_cell(*cell_xy(lon, lat, res), res)


def tile_columns(df: DataFrame, lon: str = "lon", lat: str = "lat", zoom: int = 12,
                 clamped: bool = True) -> DataFrame:
    """Attach (tx, ty_tms, ty_xyz, quadkey) at fixed zoom — the
    tile-assignment operator as one codegen'd stage: tx and ty_tms are
    computed once, then ty_xyz and quadkey read them."""
    lim = 2**zoom - 1
    tx, ty = tms_tile(quote(lon), quote(lat), zoom)
    if clamped:
        tx, ty = clamp(tx, 0, lim), clamp(ty, 0, lim)
    return df.withColumns({"tx": F.expr(tx), "ty_tms": F.expr(ty)}).withColumns(
        {"ty_xyz": F.expr(xyz_ty("ty_tms", zoom)),
         "quadkey": F.expr(quadkey("tx", "ty_tms", zoom))})
