"""Tile-array raster representation — one row per fixed-size tile.

The reference's raster engine is block-based: GDALRasterBand reads and
caches rectangular blocks (gcore/gdal_priv.h:1267 GDALRasterBlock,
block size gdal_priv.h:1633), and every windowed algorithm (gdaldem
slope/hillshade, warp, overview build) runs numpy-style array code
over one block plus its borders. The Spark-native equivalent (SURVEY
§1.2) is a DataFrame with ONE ROW PER TILE:

    (ty bigint, tx bigint, payload array<double>)   -- row-major T*T

instead of one row per pixel. A 3x3 focal op then needs exactly ONE
shuffle (each tile sends its edge strips to its 8 neighbors; the
receiver assembles a (T+2h)^2 padded array and runs a vectorized numpy
stencil), instead of the 8 sequential self-joins of the per-pixel halo
model — at 100 TB the difference is 8 full-raster shuffles vs ~1.02x
of one.

Halo message volume: strips are sliced JVM-side with higher-order
array functions, so the shuffle carries (T+2h)^2/T^2 ~ 1.02x the
raster bytes for T=256, h=1 — not 9x.

Boundary conventions (both used by the reference family):
- 'center': an out-of-raster neighbor contributes the CENTER pixel's
  value (the gdaldem edge convention of the 3x3 terrain ops).
- 'clamp': out-of-raster taps clamp to the nearest valid pixel
  (the resampling-kernel convention, gcore/gdal_interpolateatpoint).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ------------------------------------------------------------ conversions

def tiles_from_pixels(pixels: DataFrame, *, tile: int) -> DataFrame:
    """(gx, gy, value) pixel table -> tile rows. One shuffle (groupBy
    tile id); the payload is assembled JVM-side (sort_array + transform)
    so no Python touches pixel rows."""
    t = tile
    return (
        pixels.select(
            (F.col("gy") / t).cast("bigint").alias("ty"),
            (F.col("gx") / t).cast("bigint").alias("tx"),
            ((F.col("gy") % t) * t + (F.col("gx") % t)).alias("_pos"),
            F.col("value").cast("double").alias("_v"),
        )
        .groupBy("ty", "tx")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(_pos, _v))), s -> s._v)")
            .alias("payload")
        )
    )


def pixels_from_tiles(tiled: DataFrame, *, tile: int, col: str = "payload",
                      out: str = "value") -> DataFrame:
    """Tile rows -> (gx, gy, <out>) pixel table (posexplode)."""
    t = tile
    return tiled.select(
        "ty", "tx", F.posexplode(col).alias("_pos", out)
    ).select(
        (F.col("tx") * t + F.col("_pos") % t).alias("gx"),
        (F.col("ty") * t + (F.col("_pos") / t).cast("bigint")).alias("gy"),
        out,
    )


# ---------------------------------------------------------- halo exchange

def _strip_exprs(tile: int, halo: int) -> list[tuple[str, int, int, str]]:
    """(kind, dty, dtx, slice-SQL) for the 8 outgoing halo messages.
    dty/dtx are the offsets of the RECEIVING tile. Strips are row-major
    sub-blocks of the source payload, sliced with JVM higher-order
    functions (element_at is 1-based)."""
    T, h = tile, halo

    def col_strip(c0: int) -> str:
        # (T rows x h cols) block starting at column c0, row-major
        return (
            f"transform(sequence(0, {T * h - 1}), k -> "
            f"element_at(payload, CAST(k / {h} AS INT) * {T} + {c0} + k % {h} + 1))"
        )

    def corner(r0: int, c0: int) -> str:
        return (
            f"transform(sequence(0, {h * h - 1}), k -> "
            f"element_at(payload, ({r0} + CAST(k / {h} AS INT)) * {T} + {c0} + k % {h} + 1))"
        )

    return [
        # receiver's top halo = source's bottom h rows (source above)
        ("u", 1, 0, f"slice(payload, {(T - h) * T + 1}, {h * T})"),
        # receiver's bottom halo = source's top h rows (source below)
        ("d", -1, 0, f"slice(payload, 1, {h * T})"),
        # receiver's left halo = source's right h cols (source left)
        ("l", 0, 1, col_strip(T - h)),
        # receiver's right halo = source's left h cols (source right)
        ("r", 0, -1, col_strip(0)),
        ("ul", 1, 1, corner(T - h, T - h)),
        ("ur", 1, -1, corner(T - h, 0)),
        ("dl", -1, 1, corner(0, T - h)),
        ("dr", -1, -1, corner(0, 0)),
    ]


def halo_apply(
    tiled: DataFrame,
    fn,
    *,
    tile: int,
    nty: int,
    ntx: int,
    halo: int = 1,
    boundary: str = "center",
    out_cols: list[str] | None = None,
) -> DataFrame:
    """THE tile-raster stencil operator: one shuffle, then a vectorized
    numpy kernel per tile.

    fn(padded, ty, tx) -> dict[col, (T, T) float array]; `padded` is the
    (T+2h, T+2h) array with halo cells filled from neighbor tiles.
    Out-of-raster halo cells are NaN for boundary='center' (the stencil
    helpers substitute the center pixel, the gdaldem convention) or
    edge-replicated for boundary='clamp' (resampling-tap convention).

    Returns tile rows (ty, tx, <col> array<double> per out col)."""
    out_cols = out_cols or ["payload"]
    T, h = tile, halo

    # ONE projection emits all 9 messages per tile (center + 8 strips)
    # via explode — the tile payload is computed exactly once however
    # the upstream lineage is built (a 9-way union would recompute an
    # unpersisted source 9 times).
    msg_structs = [
        F.struct(
            F.lit("c").alias("kind"), F.lit(0).alias("dty"),
            F.lit(0).alias("dtx"), F.col("payload").alias("part"),
        )
    ] + [
        F.struct(
            F.lit(kind).alias("kind"), F.lit(dty).alias("dty"),
            F.lit(dtx).alias("dtx"), F.expr(expr).alias("part"),
        )
        for kind, dty, dtx, expr in _strip_exprs(T, h)
    ]
    allm = (
        tiled.select("ty", "tx", F.explode(F.array(*msg_structs)).alias("m"))
        .select(
            (F.col("ty") + F.col("m.dty")).alias("ty"),
            (F.col("tx") + F.col("m.dtx")).alias("tx"),
            F.col("m.kind").alias("kind"), F.col("m.part").alias("part"),
        )
        .filter(
            (F.col("ty") >= 0) & (F.col("ty") < nty)
            & (F.col("tx") >= 0) & (F.col("tx") < ntx)
        )
    )

    P = T + 2 * h
    place = {
        "c": (slice(h, h + T), slice(h, h + T), (T, T)),
        "u": (slice(0, h), slice(h, h + T), (h, T)),
        "d": (slice(h + T, P), slice(h, h + T), (h, T)),
        "l": (slice(h, h + T), slice(0, h), (T, h)),
        "r": (slice(h, h + T), slice(h + T, P), (T, h)),
        "ul": (slice(0, h), slice(0, h), (h, h)),
        "ur": (slice(0, h), slice(h + T, P), (h, h)),
        "dl": (slice(h + T, P), slice(0, h), (h, h)),
        "dr": (slice(h + T, P), slice(h + T, P), (h, h)),
    }

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(pdf["ty"].iloc[0])
        tx = int(pdf["tx"].iloc[0])
        padded = np.full((P, P), np.nan)
        for kind, part in zip(pdf["kind"], pdf["part"]):
            rs, cs, shape = place[kind]
            padded[rs, cs] = np.asarray(part, dtype=np.float64).reshape(shape)
        if boundary == "clamp":
            # coordinate-clamp semantics: replicate edge rows then cols
            if ty == 0:
                padded[0:h, :] = padded[h:h + 1, :]
            if ty == nty - 1:
                padded[h + T:, :] = padded[h + T - 1:h + T, :]
            if tx == 0:
                padded[:, 0:h] = padded[:, h:h + 1]
            if tx == ntx - 1:
                padded[:, h + T:] = padded[:, h + T - 1:h + T]
        res = fn(padded, ty, tx)
        row = {"ty": [ty], "tx": [tx]}
        for c in out_cols:
            row[c] = [res[c].ravel().tolist()]
        return pd.DataFrame(row)

    schema = "ty bigint, tx bigint, " + ", ".join(
        f"{c} array<double>" for c in out_cols
    )
    return allm.groupBy("ty", "tx").applyInPandas(lambda p: run(p), schema)


def neighbors_3x3(padded: np.ndarray):
    """center + nb(dx, dy) accessor with the gdaldem 'center' edge
    convention (NaN halo -> center value)."""
    c = padded[1:-1, 1:-1]

    def nb(dx: int, dy: int) -> np.ndarray:
        n = padded.shape[0] - 2
        v = padded[1 + dy:1 + dy + n, 1 + dx:1 + dx + n]
        return np.where(np.isnan(v), c, v)

    return c, nb


# ------------------------------------------------------------- focal ops

_DEG = 180.0 / 3.141592653589793


def _horn(nb, cellsize: float = 1.0):
    """Horn gradients — the IDENTICAL left-assoc op sequence as the
    DuckDB oracle (queries._horn_grad_sql), so the +-*/ chain is
    bit-equal."""
    dzdx = ((nb(1, -1) + 2 * nb(1, 0) + nb(1, 1))
            - (nb(-1, -1) + 2 * nb(-1, 0) + nb(-1, 1))) / (8.0 * cellsize)
    dzdy = ((nb(-1, 1) + 2 * nb(0, 1) + nb(1, 1))
            - (nb(-1, -1) + 2 * nb(0, -1) + nb(1, -1))) / (8.0 * cellsize)
    return dzdx, dzdy


def slope_tiles(tiled: DataFrame, *, tile: int, nty: int, ntx: int,
                cellsize: float = 1.0, z_factor: float = 1.0) -> DataFrame:
    """Horn slope on the tile model (gdaldem slope,
    apps/gdalalg_raster_slope.cpp). -> (ty, tx, slope_deg array)."""
    def fn(padded, ty, tx):
        _, nb = neighbors_3x3(padded)
        dzdx, dzdy = _horn(nb, cellsize)
        s = np.arctan(z_factor * np.sqrt(dzdx * dzdx + dzdy * dzdy)) * _DEG
        return {"slope_deg": s}

    return halo_apply(tiled, fn, tile=tile, nty=nty, ntx=ntx,
                      out_cols=["slope_deg"])


def hillshade_tiles(tiled: DataFrame, *, tile: int, nty: int, ntx: int,
                    z_factor: float = 1.0, azimuth_deg: float = 315.0,
                    altitude_deg: float = 45.0) -> DataFrame:
    """Hillshade on the tile model (apps/gdalalg_raster_hillshade.cpp);
    sun constants are the same Python-computed doubles the column
    version embeds."""
    import math

    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    sin_alt, cos_alt = math.sin(alt), math.cos(alt)
    azm = az - math.pi / 2.0

    def fn(padded, ty, tx):
        _, nb = neighbors_3x3(padded)
        dzdx, dzdy = _horn(nb)
        slope = np.arctan(z_factor * np.sqrt(dzdx * dzdx + dzdy * dzdy))
        # north-up raster (gdaldem's documented assumption, gt5 < 0):
        # row 0 is the northernmost scanline, so the geographic
        # south->north gradient is -dzdy and the downslope math angle
        # is atan2(-dzdy, -dzdx)
        aspect = np.arctan2(-dzdy, -dzdx)
        shade = sin_alt * np.cos(slope) + cos_alt * np.sin(slope) * np.cos(azm - aspect)
        return {"shade": np.maximum(0.0, 255.0 * shade)}

    return halo_apply(tiled, fn, tile=tile, nty=nty, ntx=ntx, out_cols=["shade"])


def hillshade_variant_tiles(
    tiled: DataFrame,
    *,
    tile: int,
    nty: int,
    ntx: int,
    variant: str,
    z_factor: float = 1.0,
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
) -> DataFrame:
    """The non-default gdaldem hillshade flavors on the tile model
    (apps/gdaldem_lib.cpp):

    - 'combined' (GDALHillshadeCombinedAlg, :1140): oblique shading
      modulated by slope — cang = 1 - acos(standard) * atan(|grad|*z)
      * 4/pi^2, scaled 1 + 254*cang with the <=0 -> 1 floor.
    - 'multidirectional' (GDALHillshadeMultiDirectionalAlg, :1238):
      USGS OF 92-422 four-azimuth (225/270/315/360) blend, weights
      sin^2(aspect - az) expressed in gradient components; flat cells
      emit 1 + 254*sin(alt).
    - 'igor' (GDALHillshadeIgorAlg, :943): shadowness = 1 -
      slope_strength * aspect_strength on a 0..255 ramp.

    Gradients reuse the Horn stencil (/8 folded in), so the reference's
    z_factor/8 scaling becomes plain z here; constants are computed
    once in Python and shared verbatim with the SQL oracle twins.
    Output column: 'shade'."""
    import math

    az = math.radians(azimuth_deg)
    alt = math.radians(altitude_deg)
    sin_alt = math.sin(alt)
    zsq = z_factor * z_factor
    # standard numerator constants (cos/sin az x cos alt x z)
    c_caz = math.cos(az) * math.cos(alt) * z_factor
    c_saz = math.sin(az) * math.cos(alt) * z_factor
    inv_half_pi_sq = 1.0 / ((math.pi * math.pi) / 4.0)
    # multidirectional constants
    s127 = 127.0 * sin_alt
    s254 = 254.0 * sin_alt
    c225 = math.cos(math.radians(225.0)) * math.cos(alt) * z_factor * 127.0
    calt127 = math.cos(alt) * z_factor * 127.0
    # igor constants
    two_pi = 2.0 * math.pi
    ref_az = math.fmod(1.5 * math.pi - az, two_pi)
    if ref_az < 0.0:
        ref_az += two_pi

    def fn(padded, ty, tx):
        _, nb = neighbors_3x3(padded)
        dzdx, dzdy = _horn(nb)
        # Gradient<HORN>::calc under a north-up geotransform (gt5 < 0,
        # row 0 = northernmost scanline, unit res): x = (west - east
        # sums) = -dzdx, y = (south - north sums) * (1/gt5) = -dzdy;
        # the z/8 scaling is already folded into the Horn /8
        xg = -dzdx
        yg = -dzdy
        if variant == "combined":
            slope = (xg * xg + yg * yg) * zsq
            num = sin_alt - (yg * c_caz - xg * c_saz)
            # clamp: the ratio is a cosine (<=1 mathematically) but
            # rounding may push it past 1, and numpy/DuckDB would then
            # disagree NaN-vs-value; clamped identically in the oracle
            cang = np.arccos(np.clip(num / np.sqrt(1.0 + slope), -1.0, 1.0))
            comb = 1.0 - (cang * np.arctan(np.sqrt(slope))) * inv_half_pi_sq
            shade = np.where(comb <= 0.0, 1.0, 1.0 + 254.0 * comb)
        elif variant == "multidirectional":
            xx = xg * xg
            yy = yg * yg
            xpy = xx + yy
            v225 = np.maximum(0.0, s127 + (xg - yg) * c225)
            v270 = np.maximum(0.0, s127 - xg * calt127)
            v315 = np.maximum(0.0, s127 + (xg + yg) * c225)
            v360 = np.maximum(0.0, s127 - yg * calt127)
            w225 = 0.5 * xpy - xg * yg
            w270 = xx
            w315 = xpy - w225
            w360 = yy
            with np.errstate(invalid="ignore", divide="ignore"):
                blend = (
                    (w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360)
                    / xpy
                ) / np.sqrt(1.0 + zsq * xpy)
            shade = np.where(xpy == 0.0, 1.0 + s254, 1.0 + blend)
        elif variant == "igor":
            slope_deg = np.arctan(
                np.sqrt(dzdx * dzdx + dzdy * dzdy) * z_factor) * _DEG
            # igor's aspect uses RAW window sums (no geotransform
            # fold, gdaldem_lib.cpp:974-989): atan2(south-north sums,
            # west-east sums) = atan2(dzdy, -dzdx) in this model
            asp = np.arctan2(dzdy, -dzdx)
            na = np.fmod(asp, two_pi)
            na = np.where(na < 0.0, na + two_pi, na)
            diff = np.abs(na - ref_az)
            diff = np.where(diff > math.pi, two_pi - diff, diff)
            strength = 1.0 - diff / math.pi
            shade = 255.0 * (1.0 - (slope_deg / 90.0) * strength)
        else:
            raise ValueError(f"unknown hillshade variant {variant!r}")
        return {"shade": shade}

    return halo_apply(tiled, fn, tile=tile, nty=nty, ntx=ntx,
                      out_cols=["shade"])


def aspect_tiles(tiled: DataFrame, *, tile: int, nty: int, ntx: int) -> DataFrame:
    """gdaldem ASPECT, azimuth form (alg/gdaldem_lib.cpp
    GDALAspectAlg): az = 90 - degrees(atan2(dzdy, -dzdx)), wrapped to
    [0, 360); flat cells (both gradients zero) emit -9999 (the
    reference's aspect nodata). Same Horn stencil/halo pass as slope."""
    def fn(padded, ty, tx):
        _, nb = neighbors_3x3(padded)
        dzdx, dzdy = _horn(nb)
        a = np.arctan2(dzdy, -dzdx) * _DEG
        az = 90.0 - a
        az = np.where(az < 0.0, az + 360.0, az)
        az = np.where((dzdx == 0.0) & (dzdy == 0.0), -9999.0, az)
        return {"aspect_deg": az}

    return halo_apply(tiled, fn, tile=tile, nty=nty, ntx=ntx,
                      out_cols=["aspect_deg"])


def terrain_tiles(tiled: DataFrame, *, tile: int, nty: int, ntx: int) -> DataFrame:
    """TPI / TRI / roughness in one halo pass (gdaldem tpi/tri/
    roughness semantics; same neighbor order as the column version —
    integer-valued bands make the folds order-exact anyway)."""
    offsets = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1) if (dx, dy) != (0, 0)]

    def fn(padded, ty, tx):
        c, nb = neighbors_3x3(padded)
        s = None
        for dx, dy in offsets:
            v = nb(dx, dy)
            s = v if s is None else s + v
        tpi = c - s / 8.0
        absdev = None
        for dx, dy in offsets:
            t = np.abs(c - nb(dx, dy))
            absdev = t if absdev is None else absdev + t
        tri = absdev / 8.0
        allv = [c] + [nb(dx, dy) for dx, dy in offsets]
        rough = np.maximum.reduce(allv) - np.minimum.reduce(allv)
        return {"tpi": tpi, "tri": tri, "roughness": rough}

    return halo_apply(tiled, fn, tile=tile, nty=nty, ntx=ntx,
                      out_cols=["tpi", "tri", "roughness"])


# -------------------------------------------------------- kernel sampling

LANCZOS_A = 3


def sample_cubic_tiles(tiled: DataFrame, points: DataFrame, *,
                       tile: int, width: int, height: int,
                       x_col: str = "px", y_col: str = "py",
                       id_col: str = "sid", kernel: str = "cubic") -> DataFrame:
    """4x4 kernel sampling on the tile model — one halo-2 assembly +
    one point shuffle instead of 16 shifted per-pixel equi-joins;
    weight and fold order match the SQL oracle exactly.
    kernel='cubic': cubic convolution a = -0.5
    (alg/gdalresamplingkernels.h CubicKernel); kernel='cubicspline':
    the GRA_CubicSpline B-spline basis (alg/gdalwarper.h:37-67,
    BSpline(4-6d^2+3d^3)/6 | (2-d)^3/6 — a partition of unity, no
    normalization, matching GDALResampleChunk32R_CubicSpline)."""
    T = tile
    h = 2
    nty = height // T
    ntx = width // T

    padded = halo_apply(
        tiled, lambda p, ty, tx: {"padded": p}, tile=T, nty=nty, ntx=ntx,
        halo=h, boundary="clamp", out_cols=["padded"],
    )
    fx = F.least(F.greatest(F.col(x_col), F.lit(0.5)), F.lit(width - 0.5)) - 0.5
    fy = F.least(F.greatest(F.col(y_col), F.lit(0.5)), F.lit(height - 0.5)) - 0.5
    pts = points.select(F.col(id_col), fx.alias("_fx"), fy.alias("_fy")) \
        .withColumn("_x0", F.least(F.floor("_fx"), F.lit(width - 2)).cast("bigint")) \
        .withColumn("_y0", F.least(F.floor("_fy"), F.lit(height - 2)).cast("bigint")) \
        .withColumn("ty", (F.col("_y0") / T).cast("bigint")) \
        .withColumn("tx", (F.col("_x0") / T).cast("bigint"))
    joined = pts.join(padded, ["ty", "tx"])
    P = T + 2 * h

    if kernel == "cubic":
        def cw(d: np.ndarray) -> np.ndarray:
            # same piecewise op order as focal.cubic_weight_sql
            inner = (1.5 * d * d * d) - (2.5 * d * d) + 1.0
            outer = (-0.5 * d * d * d) + (2.5 * d * d) - (4.0 * d) + 2.0
            return np.where(d <= 1.0, inner, outer)
    elif kernel == "cubicspline":
        def cw(d: np.ndarray) -> np.ndarray:
            # same piecewise op order as focal.cubicspline_weight_sql
            inner = ((3.0 * d * d * d) - (6.0 * d * d) + 4.0) / 6.0
            e = 2.0 - d
            outer = (e * e * e) / 6.0
            return np.where(d <= 1.0, inner, outer)
    else:
        raise ValueError(f"unknown kernel: {kernel}")

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(pdf["ty"].iloc[0])
        tx = int(pdf["tx"].iloc[0])
        terr = np.asarray(pdf["padded"].iloc[0], dtype=np.float64).reshape(P, P)
        fxv = pdf["_fx"].to_numpy(dtype=np.float64)
        fyv = pdf["_fy"].to_numpy(dtype=np.float64)
        x0 = pdf["_x0"].to_numpy(dtype=np.int64)
        y0 = pdf["_y0"].to_numpy(dtype=np.int64)
        txv = fxv - x0
        tyv = fyv - y0
        lx0 = x0 - tx * T + h
        ly0 = y0 - ty * T + h
        taps = (-1, 0, 1, 2)
        wx = [cw(np.abs(txv - i)) for i in taps]
        wy = [cw(np.abs(tyv - j)) for j in taps]
        total = None
        for j, wyj in zip(taps, wy):
            ry = np.clip(ly0 + j, 0, P - 1)
            row = None
            for i, wxi in zip(taps, wx):
                rx = np.clip(lx0 + i, 0, P - 1)
                t = terr[ry, rx] * wxi
                row = t if row is None else row + t
            term = row * wyj
            total = term if total is None else total + term
        return pd.DataFrame({id_col: pdf[id_col], "value": total})

    return joined.groupBy("ty", "tx").applyInPandas(
        lambda p: run(p), f"{id_col} bigint, value double"
    )


def sample_lanczos_tiles(tiled: DataFrame, points: DataFrame, *,
                         tile: int, width: int, height: int,
                         x_col: str = "px", y_col: str = "py",
                         id_col: str = "sid") -> DataFrame:
    """Lanczos-3 point sampling on the tile model
    (alg/gdalresamplingkernels.h lanczos, 6x6 taps, normalized).

    Replaces the driver-collect + per-row-Python implementation: tiles
    are halo-assembled (h=3, clamp boundary) in one shuffle, points
    shuffle once to their owning tile, and each tile group evaluates
    ALL its points with vectorized numpy (tap gather via fancy
    indexing; fold order identical to the scalar reference so the SQL
    oracle still matches at 6dp)."""
    T = tile
    h = LANCZOS_A
    nty = height // T
    ntx = width // T

    padded = halo_apply(
        tiled, lambda p, ty, tx: {"padded": p}, tile=T, nty=nty, ntx=ntx,
        halo=h, boundary="clamp", out_cols=["padded"],
    )

    # owning tile of a point = tile of its low tap corner x0 (clamped
    # like the scalar path); all 6x6 taps then fall inside padded
    fx = F.least(F.greatest(F.col(x_col), F.lit(0.5)), F.lit(width - 0.5)) - 0.5
    fy = F.least(F.greatest(F.col(y_col), F.lit(0.5)), F.lit(height - 0.5)) - 0.5
    pts = points.select(
        F.col(id_col),
        fx.alias("_fx"), fy.alias("_fy"),
    ).withColumn("_x0", F.floor("_fx").cast("bigint")) \
     .withColumn("_y0", F.floor("_fy").cast("bigint")) \
     .withColumn("ty", F.least(F.col("_y0"), F.lit(height - 1)) / T) \
     .withColumn("ty", F.col("ty").cast("bigint")) \
     .withColumn("tx", (F.least(F.col("_x0"), F.lit(width - 1)) / T).cast("bigint"))

    joined = pts.join(padded, ["ty", "tx"])

    a = LANCZOS_A
    P = T + 2 * h

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        ty = int(pdf["ty"].iloc[0])
        tx = int(pdf["tx"].iloc[0])
        terr = np.asarray(pdf["padded"].iloc[0], dtype=np.float64).reshape(P, P)
        fxv = pdf["_fx"].to_numpy(dtype=np.float64)
        fyv = pdf["_fy"].to_numpy(dtype=np.float64)
        x0 = np.floor(fxv).astype(np.int64)
        y0 = np.floor(fyv).astype(np.int64)
        txv = fxv - x0
        tyv = fyv - y0
        taps = list(range(-a + 1, a + 1))  # -2..3
        pi = 3.141592653589793

        def lw(d: np.ndarray) -> np.ndarray:
            pd_ = pi * d
            with np.errstate(invalid="ignore", divide="ignore"):
                w = (np.sin(pd_) / pd_) * (np.sin(pd_ / a) / (pd_ / a))
            return np.where(d == 0.0, 1.0, w)

        wx = [lw(txv - i) for i in taps]
        wy = [lw(tyv - j) for j in taps]
        # padded-local indices of taps; clamp to the raster via the
        # clamp-filled halo (taps beyond the halo only occur when the
        # global clamp already applies, mirrored here)
        lx0 = x0 - tx * T + h
        ly0 = y0 - ty * T + h
        num = np.zeros_like(fxv)
        for j, wyj in zip(taps, wy):
            row = np.zeros_like(fxv)
            ry = np.clip(ly0 + j, 0, P - 1)
            for i, wxi in zip(taps, wx):
                rx = np.clip(lx0 + i, 0, P - 1)
                row = row + terr[ry, rx] * wxi
            num = num + row * wyj
        sx = np.zeros_like(fxv)
        for wxi in wx:
            sx = sx + wxi
        sy = np.zeros_like(fyv)
        for wyj in wy:
            sy = sy + wyj
        return pd.DataFrame({id_col: pdf[id_col], "value": num / (sx * sy)})

    return joined.groupBy("ty", "tx").applyInPandas(
        lambda p: run(p), f"{id_col} bigint, value double"
    )
