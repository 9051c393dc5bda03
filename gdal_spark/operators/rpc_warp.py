"""RPC (rational polynomial coefficient) warp transformer — the
RPC00B 20-coefficient model satellite L1 imagery georeferences with
(reference: alg/gdal_rpc.cpp; forward RPCTransformPoint
gdal_rpc.cpp:386-466, term basis RPCComputeTerms, iterative inverse
RPCInverseTransformPoint gdal_rpc.cpp:1128-1360).

Semantics replicated exactly for the no-DEM case (constant user
height — GDAL's RPC_HEIGHT path):

- forward: normalize (lon, lat, h) by the offset/scale pairs
  (dateline-safe longitude diff), evaluate the four 20-term cubic
  polynomials over the RPC00B term order, pixel = SAMP_NUM/SAMP_DEN *
  SAMP_SCALE + SAMP_OFF + 0.5 (center-of-UL-pixel -> GDAL corner
  convention), line likewise.
- inverse: initial guess from the linear approximation around the
  reference point (finite-difference affine at dfLLDelta = 1e-4,
  inverted like GDALInvGeoTransform), then at most 10 fixed-point
  iterations (GDAL's no-DEM nMaxIterations) stepping by the inverse
  affine of the pixel residual, stopping per point once
  max(|dpx|, |dpy|) < pix_err_threshold (DEFAULT_PIX_ERR_THRESHOLD =
  0.1, gdal_rpc.cpp:63). The vectorized form freezes converged points
  (same results as GDAL's per-point break), and the SQL twin unrolls
  the identical masked iterations.

Distributed shape: the transformer constants (40 floats + affine) are
plain Python literals closed over an Arrow-batched pandas UDF — the
same 8-bytes-per-point data plane as the GCP/TPS family in gcp_warp.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_PIX_ERR_THRESHOLD = 0.1  # gdal_rpc.cpp:63
LL_DELTA = 0.0001                # gdal_rpc.cpp:1056
MAX_ITER_NO_DEM = 10             # gdal_rpc.cpp:1190


class RPC:
    """RPC00B metadata: offsets/scales + 4 x 20 coefficients."""

    def __init__(self, *, long_off, long_scale, lat_off, lat_scale,
                 height_off, height_scale, samp_off, samp_scale,
                 line_off, line_scale, samp_num, samp_den, line_num,
                 line_den):
        self.long_off = float(long_off)
        self.long_scale = float(long_scale)
        self.lat_off = float(lat_off)
        self.lat_scale = float(lat_scale)
        self.height_off = float(height_off)
        self.height_scale = float(height_scale)
        self.samp_off = float(samp_off)
        self.samp_scale = float(samp_scale)
        self.line_off = float(line_off)
        self.line_scale = float(line_scale)
        for name, c in (("samp_num", samp_num), ("samp_den", samp_den),
                        ("line_num", line_num), ("line_den", line_den)):
            c = tuple(float(v) for v in c)
            assert len(c) == 20, f"{name}: RPC00B wants 20 coefficients"
            setattr(self, name, c)


def _terms(L, P, H):
    """The RPC00B term basis in the reference's exact order
    (RPCComputeTerms, gdal_rpc.cpp:345-369). L = normalized longitude,
    P = normalized latitude, H = normalized height."""
    return (
        np.ones_like(L), L, P, H, L * P, L * H, P * H, L * L, P * P, H * H,
        L * P * H, L * L * L, L * P * P, L * H * H, L * L * P, P * P * P,
        P * H * H, L * L * H, P * P * H, H * H * H,
    )


def _poly(terms, coefs):
    s = terms[0] * coefs[0]
    for t, c in zip(terms[1:], coefs[1:]):
        s = s + t * c
    return s


def rpc_forward(rpc: RPC, lon, lat, height=0.0):
    """(lon, lat, h) -> (pixel, line), GDAL corner convention."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    h = np.broadcast_to(np.asarray(height, dtype=np.float64), lon.shape)
    diff = lon - rpc.long_off
    diff = np.where(diff < -270.0, diff + 360.0,
                    np.where(diff > 270.0, diff - 360.0, diff))
    L = diff / rpc.long_scale
    P = (lat - rpc.lat_off) / rpc.lat_scale
    H = (h - rpc.height_off) / rpc.height_scale
    t = _terms(L, P, H)
    x = _poly(t, rpc.samp_num) / _poly(t, rpc.samp_den)
    y = _poly(t, rpc.line_num) / _poly(t, rpc.line_den)
    return (x * rpc.samp_scale + rpc.samp_off + 0.5,
            y * rpc.line_scale + rpc.line_off + 0.5)


def rpc_affine(rpc: RPC, ref_z: float = 0.0) -> tuple[float, ...]:
    """The pixel/line -> lon/lat linear approximation GDAL seeds the
    inverse with (gdal_rpc.cpp:1040-1086): finite-difference affine
    around (LONG_OFF, LAT_OFF, refZ), inverted exactly like
    GDALInvGeoTransform. refZ is 0 for the no-DEM transformer and the
    DEM height at the reference point when RPC_DEM is set
    (gdal_rpc.cpp:1054-1056). Returns the 6-tuple gt such that
    lon = gt0 + gt1*pixel + gt2*line, lat = gt3 + gt4*pixel + gt5*line."""
    ref_lon, ref_lat = rpc.long_off, rpc.lat_off
    rp, rl = rpc_forward(rpc, np.array([ref_lon]), np.array([ref_lat]), ref_z)
    rp, rl = float(rp[0]), float(rl[0])
    dp, dl = rpc_forward(rpc, np.array([ref_lon + LL_DELTA]),
                         np.array([ref_lat]), ref_z)
    g1 = (float(dp[0]) - rp) / LL_DELTA   # dpixel/dlon
    g4 = (float(dl[0]) - rl) / LL_DELTA   # dline/dlon
    dp, dl = rpc_forward(rpc, np.array([ref_lon]),
                         np.array([ref_lat + LL_DELTA]), ref_z)
    g2 = (float(dp[0]) - rp) / LL_DELTA   # dpixel/dlat
    g5 = (float(dl[0]) - rl) / LL_DELTA   # dline/dlat
    g0 = rp - g1 * ref_lon - g2 * ref_lat
    g3 = rl - g4 * ref_lon - g5 * ref_lat
    # invert the 2x3 affine (GDALInvGeoTransform semantics)
    det = g1 * g5 - g2 * g4
    i1 = g5 / det
    i2 = -g2 / det
    i4 = -g4 / det
    i5 = g1 / det
    i0 = -g0 * i1 - g3 * i2
    i3 = -g0 * i4 - g3 * i5
    return (i0, i1, i2, i3, i4, i5)


def rpc_inverse(rpc: RPC, pixel, line, height=0.0,
                pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                max_iter: int = MAX_ITER_NO_DEM):
    """(pixel, line) -> (lon, lat) at constant height: GDAL's
    fixed-point iteration with per-point stop (vectorized as a freeze
    mask — identical results to the scalar break). Points that never
    reach the threshold come back NaN, mirroring the reference's
    failure marking (gdal_rpc.cpp: HUGE_VAL + panSuccess=FALSE when
    iIter != -1 after the loop) rather than leaking an arbitrary
    non-converged iterate."""
    px = np.asarray(pixel, dtype=np.float64)
    py = np.asarray(line, dtype=np.float64)
    gt = rpc_affine(rpc)
    x = gt[0] + gt[1] * px + gt[2] * py
    y = gt[3] + gt[4] * px + gt[5] * py
    done = np.zeros(px.shape, dtype=bool)
    for _ in range(max_iter):
        bx, by = rpc_forward(rpc, x, y, height)
        dx = bx - px
        dy = by - py
        err = np.maximum(np.abs(dx), np.abs(dy))
        done = done | (err < pix_err_threshold)
        x = np.where(done, x, x - (dx * gt[1] + dy * gt[2]))
        y = np.where(done, y, y - (dx * gt[4] + dy * gt[5]))
    # exactly max_iter residual checks, like the reference loop — a
    # point that only converges ON the final update is failed by GDAL
    # too (no post-loop check there either)
    return np.where(done, x, np.nan), np.where(done, y, np.nan)


# ------------------------------------------------------ Spark operators

def apply_rpc_inverse(df: DataFrame, rpc: RPC, pixel: str = "pixel",
                      line: str = "line", height: float = 0.0,
                      pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                      max_iter: int = MAX_ITER_NO_DEM) -> DataFrame:
    """Adds (lon, lat)."""

    @F.pandas_udf("struct<lon:double, lat:double>")
    def _inv(p_s: pd.Series, l_s: pd.Series) -> pd.DataFrame:
        lo, la = rpc_inverse(rpc, p_s.to_numpy(), l_s.to_numpy(), height,
                             pix_err_threshold, max_iter)
        return pd.DataFrame({"lon": lo, "lat": la})

    res = df.withColumn("_ll", _inv(F.col(pixel), F.col(line)))
    return res.withColumn("lon", F.col("_ll.lon")).withColumn(
        "lat", F.col("_ll.lat")).drop("_ll")


# ------------------------------------------------------------ SQL twins

def _r(x: float) -> str:
    return repr(float(x))


def _terms_sql(L: str, P: str, H: str) -> list[str]:
    return [
        "1.0", L, P, H, f"{L}*{P}", f"{L}*{H}", f"{P}*{H}", f"{L}*{L}",
        f"{P}*{P}", f"{H}*{H}", f"{L}*{P}*{H}", f"{L}*{L}*{L}",
        f"{L}*{P}*{P}", f"{L}*{H}*{H}", f"{L}*{L}*{P}", f"{P}*{P}*{P}",
        f"{P}*{H}*{H}", f"{L}*{L}*{H}", f"{P}*{P}*{H}", f"{H}*{H}*{H}",
    ]


def _poly_sql(terms: list[str], coefs) -> str:
    return "(" + " + ".join(f"{t} * {_r(c)}" for t, c in zip(terms, coefs)) + ")"


def rpc_fwd_sql_exprs(rpc: RPC, lon: str, lat: str,
                      height: float = 0.0,
                      height_expr: str | None = None) -> tuple[str, str]:
    """(pixel_expr, line_expr) over lon/lat SQL expressions — the exact
    forward arithmetic with shared literals (dateline branch omitted:
    identical for |lon - LONG_OFF| < 270, which every fixture and real
    scene satisfies). height_expr, when given, is a per-row SQL height
    (the RPC_DEM path); the constant `height` is used otherwise."""
    L = f"((({lon}) - {_r(rpc.long_off)}) / {_r(rpc.long_scale)})"
    P = f"((({lat}) - {_r(rpc.lat_off)}) / {_r(rpc.lat_scale)})"
    if height_expr is not None:
        H = (f"((({height_expr}) - {_r(rpc.height_off)})"
             f" / {_r(rpc.height_scale)})")
    else:
        H = _r((height - rpc.height_off) / rpc.height_scale)
    t = _terms_sql(L, P, H)
    px = (f"({_poly_sql(t, rpc.samp_num)} / {_poly_sql(t, rpc.samp_den)}"
          f" * {_r(rpc.samp_scale)} + {_r(rpc.samp_off)} + 0.5)")
    py = (f"({_poly_sql(t, rpc.line_num)} / {_poly_sql(t, rpc.line_den)}"
          f" * {_r(rpc.line_scale)} + {_r(rpc.line_off)} + 0.5)")
    return px, py


def rpc_inv_sql_ctes(rpc: RPC, src: str, *, pixel: str = "px",
                     line: str = "py", keep: str = "id",
                     height: float = 0.0,
                     pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                     max_iter: int = MAX_ITER_NO_DEM) -> str:
    """CTE chain unrolling the masked fixed-point iterations; final CTE
    `rpc_inv` (keep, lon, lat). Byte-identical arithmetic to
    rpc_inverse."""
    gt = rpc_affine(rpc)
    g = [_r(v) for v in gt]
    thr = _r(pix_err_threshold)
    parts = [f"""
rpc_i0 AS (
  SELECT {keep}, ({pixel}) AS tpx, ({line}) AS tpy,
         {g[0]} + {g[1]} * ({pixel}) + {g[2]} * ({line}) AS x,
         {g[3]} + {g[4]} * ({pixel}) + {g[5]} * ({line}) AS y,
         FALSE AS done
  FROM {src}
)"""]
    for i in range(max_iter):
        bx, by = rpc_fwd_sql_exprs(rpc, "x", "y", height)
        parts.append(f"""
rpc_b{i} AS (
  SELECT {keep}, tpx, tpy, x, y, done,
         {bx} - tpx AS dx, {by} - tpy AS dy
  FROM rpc_i{i}
),
rpc_d{i} AS (
  SELECT {keep}, tpx, tpy, x, y, dx, dy,
         (done OR greatest(abs(dx), abs(dy)) < {thr}) AS done
  FROM rpc_b{i}
),
rpc_i{i + 1} AS (
  SELECT {keep}, tpx, tpy,
         CASE WHEN done THEN x ELSE x - (dx * {g[1]} + dy * {g[2]}) END AS x,
         CASE WHEN done THEN y ELSE y - (dx * {g[4]} + dy * {g[5]}) END AS y,
         done
  FROM rpc_d{i}
)""")
    parts.append(f"""
rpc_inv AS (
  SELECT {keep},
         CASE WHEN done THEN x ELSE CAST('nan' AS DOUBLE) END AS lon,
         CASE WHEN done THEN y ELSE CAST('nan' AS DOUBLE) END AS lat
  FROM rpc_i{max_iter}
)""")
    return ",".join(p.strip() for p in parts)


# --------------------------------------------- Spark codegen-SQL twins

def apply_rpc_forward_sql(df: DataFrame, rpc: RPC, lon: str = "lon",
                          lat: str = "lat",
                          height: float = 0.0) -> DataFrame:
    """Forward RPC as Spark SQL column expressions — the IDENTICAL
    generated text the DuckDB oracle parses, so the arithmetic is
    bit-exact across engines (pure * / + — no libm), and the whole
    transform runs JVM-side in whole-stage codegen. Adds
    (pixel, line)."""
    px, py = rpc_fwd_sql_exprs(rpc, lon, lat, height)
    return df.withColumn("pixel", F.expr(px)).withColumn("line", F.expr(py))


# NOTE: no codegen-SQL twin for the INVERSE on purpose — 10 unrolled
# iterations of two 20-term rational evals would exceed the 64 KB
# whole-stage-codegen limit (the scale red flag this repo treats as a
# failure); the Arrow/numpy path above runs the same pure + - * /
# sequence, so cross-engine drift vs the DuckDB CTE replay is FMA-
# contraction-level only (measured <= 7e-15 deg), absorbed by the
# micro-degree gate rounding.


# ------------------------------------------------------------- fixture

def rpc_fixture() -> RPC:
    """Deterministic satellite-plausible RPC00B set (Paris-ish scene):
    dominant linear terms + small rational cross terms, denominators
    near 1 — the shape real RPC00B metadata has."""
    return RPC(
        long_off=2.3, long_scale=0.12, lat_off=48.85, lat_scale=0.09,
        height_off=120.0, height_scale=500.0,
        samp_off=6000.0, samp_scale=6200.0,
        line_off=4500.0, line_scale=4700.0,
        samp_num=(0.0021, 1.0173, -0.0832, 0.0027, 0.0061, -0.0008, 0.0004,
                  0.0013, -0.0022, 0.0001, 0.00017, 0.00032, -0.00021,
                  0.00008, 0.00044, -0.00012, 0.00005, 0.00021, -0.00009,
                  0.00002),
        samp_den=(1.0, 0.00071, -0.00042, 0.00013, 0.000095, -0.000031,
                  0.000022, 0.000088, -0.000046, 0.0000071, 0.0000052,
                  0.0000088, -0.0000035, 0.0000012, 0.0000061, -0.0000028,
                  0.0000009, 0.0000033, -0.0000016, 0.0000004),
        line_num=(-0.0018, 0.0924, -1.0224, -0.0031, -0.0053, 0.0007,
                  -0.0005, -0.0017, 0.0026, -0.0001, -0.00019, -0.00028,
                  0.00024, -0.00007, -0.00039, 0.00014, -0.00006, -0.00018,
                  0.00011, -0.00002),
        line_den=(1.0, -0.00064, 0.00051, -0.00011, -0.000087, 0.000027,
                  -0.000019, -0.000079, 0.000052, -0.0000065, -0.0000047,
                  -0.0000079, 0.0000041, -0.0000014, -0.0000055, 0.0000031,
                  -0.0000011, -0.0000029, 0.0000018, -0.0000005),
    )


# ------------------------------------------------------- RPC_DEM path

MAX_ITER_DEM = 20  # gdal_rpc.cpp:1187 (poDS != nullptr -> 20)


class DEM:
    """In-memory DEM for the RPC transformer (GDAL's RPC_DEM option):
    a 2-D height grid + north-up geotransform. `grid[row, col]` with
    row 0 the northernmost line, exactly like a GDAL raster; gt is the
    GDAL 6-tuple (x0, dx, 0, y0, 0, dy) with dy < 0.

    Scale note: this is the per-scene broadcast shape — a satellite
    scene's DEM chip is MBs and rides the UDF closure to every
    executor once, so the 100 TB point stream pays one Arrow stage and
    zero shuffles. A continent-scale DEM that cannot broadcast would
    flip to the tile-join gather (operators/focal.py:160
    sample_bilinear) per iteration instead — same arithmetic, 20
    bounded join stages."""

    def __init__(self, grid, gt, *, height_offset: float = 0.0,
                 height_scale: float = 1.0):
        self.grid = np.asarray(grid, dtype=np.float64)
        assert self.grid.ndim == 2
        self.gt = tuple(float(v) for v in gt)
        assert self.gt[2] == 0.0 and self.gt[4] == 0.0, \
            "rotated DEM geotransforms out of scope"
        self.height_offset = float(height_offset)
        self.height_scale = float(height_scale)

    @property
    def inv_gt(self) -> tuple[float, ...]:
        """GDALInvGeoTransform for the north-up case."""
        x0, dx, _, y0, _, dy = self.gt
        return (-x0 / dx, 1.0 / dx, 0.0, -y0 / dy, 0.0, 1.0 / dy)

    @property
    def shape(self) -> tuple[int, int]:
        return self.grid.shape  # (H, W)


def _dem_bilinear_clamped(dem: DEM, px, py):
    """GDALInterpolateAtPoint bilinear (gcore semantics via
    alg/gdal_interpolateatpoint.cpp:370-393): center-of-pixel
    convention, out-of-border 2x2 corners replicated from the edge —
    algebraically identical to clamping the sample coordinate into
    [0.5, size-0.5] and capping the low corner at size-2 (the
    operators/focal.py sample_bilinear rule). Caller handles the
    in-bounds test; this evaluates safely for ANY finite coords."""
    H, W = dem.shape
    fx = np.minimum(np.maximum(px, 0.5), W - 0.5) - 0.5
    fy = np.minimum(np.maximum(py, 0.5), H - 0.5) - 0.5
    x0 = np.minimum(np.floor(fx), W - 2).astype(np.int64)
    y0 = np.minimum(np.floor(fy), H - 2).astype(np.int64)
    wx = fx - x0
    wy = fy - y0
    g = dem.grid
    return (g[y0, x0] * (1 - wx) * (1 - wy)
            + g[y0, x0 + 1] * wx * (1 - wy)
            + g[y0 + 1, x0] * (1 - wx) * wy
            + g[y0 + 1, x0 + 1] * wx * wy)


def dem_ref_z(rpc: RPC, dem: DEM) -> float:
    """dfRefZ (gdal_rpc.cpp:1054-1056): GetHeightAtLongLat at the
    reference point (LONG_OFF, LAT_OFF); stays 0 on failure."""
    i = dem.inv_gt
    px = i[0] + i[1] * rpc.long_off
    py = i[3] + i[5] * rpc.lat_off
    H, W = dem.shape
    if not (0.0 <= px <= W and 0.0 <= py <= H):
        return 0.0
    h = float(_dem_bilinear_clamped(dem, np.array([px]), np.array([py]))[0])
    return dem.height_offset + h * dem.height_scale


def rpc_forward_dem(rpc: RPC, dem: DEM, lon, lat, user_height=0.0):
    """Forward with RPC_DEM (GDALRPCTransform forward loop,
    gdal_rpc.cpp:1923-1948): per point, height = GetHeightAtLongLat
    (bilinear DEM sample, gdal_rpc.cpp:549-634) and pixel/line =
    RPCTransformPoint(lon, lat, user_height + height). Points whose
    lon/lat fall outside the DEM come back NaN (the reference's
    HUGE_VAL + panSuccess=FALSE; no RPC_DEM_MISSING_VALUE here)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    i = dem.inv_gt
    px = i[0] + i[1] * lon
    py = i[3] + i[5] * lat
    Hs, Ws = dem.shape
    ok = (px >= 0.0) & (px <= Ws) & (py >= 0.0) & (py <= Hs)
    h = dem.height_offset + _dem_bilinear_clamped(dem, px, py) * dem.height_scale
    bx, by = rpc_forward(rpc, lon, lat, np.asarray(user_height) + h)
    return np.where(ok, bx, np.nan), np.where(ok, by, np.nan)


def rpc_inverse_dem(rpc: RPC, dem: DEM, pixel, line, user_height=0.0,
                    pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                    max_iter: int = MAX_ITER_DEM):
    """(pixel, line) -> (lon, lat) intersecting the RPC ray with the
    DEM — RPCInverseTransformPoint with a DEM dataset
    (gdal_rpc.cpp:1128-1360), vectorized with per-point state masks:

    - affine seed built at refZ = DEM height at the reference point
      (gdal_rpc.cpp:1040-1086);
    - per iteration: DEM height at the current (lon, lat) guess
      (bilinear). A miss on iteration 0 snaps the DEM pixel into
      bounds and retries — INCLUDING the reference's quirk that a
      NEGATIVE DEM line is never snapped (the else-branch re-tests
      dfDEMPixel, gdal_rpc.cpp:1223-1227), falling back to refZ; a
      miss on any later iteration fails the point (NaN);
    - back-project at user_height + DEM height, delta against the
      target pixel, converged when max(|dx|, |dy|) < threshold;
    - oscillation damping: when BOTH deltas change sign vs the
      previous iteration, the new guess is the |delta|-weighted mean
      of the two positions and no affine step is taken
      (gdal_rpc.cpp:1295-1316);
    - boost: after 5 consecutive iterations with error < 2 px the
      affine step is multiplied by 10 (gdal_rpc.cpp:1318-1341);
    - nMaxIterations = 20 with a DEM; unconverged points are NaN.

    The snap path takes the RAW dem value (no height_offset/scale),
    exactly like the reference calling GDALRPCGetDEMHeight directly
    on that branch."""
    tpx = np.asarray(pixel, dtype=np.float64)
    tpy = np.asarray(line, dtype=np.float64)
    ref_z = dem_ref_z(rpc, dem)
    gt = rpc_affine(rpc, ref_z)
    ig = dem.inv_gt
    Hs, Ws = dem.shape

    x = gt[0] + gt[1] * tpx + gt[2] * tpy
    y = gt[3] + gt[4] * tpx + gt[5] * tpy
    done = np.zeros(tpx.shape, dtype=bool)
    fail = np.zeros(tpx.shape, dtype=bool)
    lx = np.zeros_like(x)
    ly = np.zeros_like(y)
    ldx = np.zeros_like(x)
    ldy = np.zeros_like(y)
    lvalid = np.zeros(tpx.shape, dtype=bool)
    cnt = np.zeros(tpx.shape, dtype=np.int64)

    for it in range(max_iter):
        active = ~done & ~fail
        dpx = ig[0] + ig[1] * x
        dpy = ig[3] + ig[5] * y
        inb = (dpx >= 0.0) & (dpx <= Ws) & (dpy >= 0.0) & (dpy <= Hs)
        demh = dem.height_offset + _dem_bilinear_clamped(dem, dpx, dpy) \
            * dem.height_scale
        if it == 0:
            spx = np.where(dpx >= Ws, Ws - 0.5, dpx)
            spx = np.where(spx < 0.0, 0.5, spx)
            spy = np.where(dpy >= Hs, Hs - 0.5, dpy)
            # the dfDEMLine < 0 case is NEVER snapped (reference quirk)
            snap_ok = spy >= 0.0
            snap_h = _dem_bilinear_clamped(dem, spx, spy)  # raw value
            demh = np.where(~inb & snap_ok, snap_h, demh)
            demh = np.where(~inb & ~snap_ok, ref_z, demh)
        else:
            fail = fail | (active & ~inb)
            active = active & ~fail

        bx, by = rpc_forward(rpc, x, y, np.asarray(user_height) + demh)
        dx = bx - tpx
        dy = by - tpy
        err = np.maximum(np.abs(dx), np.abs(dy))
        conv = active & (err < pix_err_threshold)
        done = done | conv
        step = active & ~conv
        osc = step & lvalid & (dx * ldx < 0.0) & (dy * ldy < 0.0)
        mv = step & ~osc

        boost = np.where((cnt >= 5) & (err < 2.0), 10.0, 1.0)
        cnt = np.where(mv, np.where(err < 2.0, cnt + 1, 0), cnt)
        cnt = np.where(osc, 0, cnt)

        # errstate: np.where evaluates the osc branch for every lane,
        # and non-osc lanes with ldx==dx==0 hit a harmless 0/0
        with np.errstate(invalid="ignore", divide="ignore"):
            nx = np.where(
                osc,
                (np.abs(dx) * lx + np.abs(ldx) * x)
                / (np.abs(dx) + np.abs(ldx)),
                x - (dx * gt[1] + dy * gt[2]) * boost)
            ny = np.where(
                osc,
                (np.abs(dy) * ly + np.abs(ldy) * y)
                / (np.abs(dy) + np.abs(ldy)),
                y - (dx * gt[4] + dy * gt[5]) * boost)

        lx = np.where(mv, x, lx)
        ly = np.where(mv, y, ly)
        ldx = np.where(mv, dx, ldx)
        ldy = np.where(mv, dy, ldy)
        lvalid = np.where(osc, False, np.where(mv, True, lvalid))

        x = np.where(step, nx, x)
        y = np.where(step, ny, y)

    return np.where(done, x, np.nan), np.where(done, y, np.nan)


# ----------------------------------------- RPC_DEM Spark operators

def apply_rpc_forward_dem(df: DataFrame, rpc: RPC, dem: DEM,
                          lon: str = "lon", lat: str = "lat",
                          user_height: float = 0.0) -> DataFrame:
    """Adds (pixel, line) with DEM-derived heights. The DEM grid rides
    the closure (broadcast once per executor); each point ships 16 B
    through Arrow."""

    @F.pandas_udf("struct<pixel:double, line:double>")
    def _fwd(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        p, l = rpc_forward_dem(rpc, dem, lon_s.to_numpy(), lat_s.to_numpy(),
                               user_height)
        return pd.DataFrame({"pixel": p, "line": l})

    res = df.withColumn("_pl", _fwd(F.col(lon), F.col(lat)))
    return res.withColumn("pixel", F.col("_pl.pixel")).withColumn(
        "line", F.col("_pl.line")).drop("_pl")


def apply_rpc_inverse_dem(df: DataFrame, rpc: RPC, dem: DEM,
                          pixel: str = "pixel", line: str = "line",
                          user_height: float = 0.0,
                          pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                          max_iter: int = MAX_ITER_DEM) -> DataFrame:
    """Adds (lon, lat): the iterative ray/DEM intersection."""

    @F.pandas_udf("struct<lon:double, lat:double>")
    def _inv(p_s: pd.Series, l_s: pd.Series) -> pd.DataFrame:
        lo, la = rpc_inverse_dem(rpc, dem, p_s.to_numpy(), l_s.to_numpy(),
                                 user_height, pix_err_threshold, max_iter)
        return pd.DataFrame({"lon": lo, "lat": la})

    res = df.withColumn("_ll", _inv(F.col(pixel), F.col(line)))
    return res.withColumn("lon", F.col("_ll.lon")).withColumn(
        "lat", F.col("_ll.lat")).drop("_ll")


# ------------------------------------------ RPC_DEM fixture + SQL twins

DEM_FIX_W = 112
DEM_FIX_H = 90
DEM_FIX_GT = (2.18, 0.002, 0.0, 48.95, 0.0, -0.002)


def dem_fixture() -> DEM:
    """Deterministic DEM chip covering the gate's RPC scene
    (lon 2.21..2.390, lat 48.78..48.921 sits strictly inside): gentle
    west-east / north-south ramps plus a mod-7 terracing term. Every
    grid value is exact integer-derived double arithmetic so the
    DuckDB oracle can recompute cells analytically (dem_fixture_h_sql)
    instead of carrying a 10k-row height table."""
    c = np.arange(DEM_FIX_W, dtype=np.int64)[None, :]
    r = np.arange(DEM_FIX_H, dtype=np.int64)[:, None]
    grid = 60.0 + 0.8 * c + 0.45 * r + 2.5 * ((3 * c + 5 * r) % 7)
    return DEM(grid, DEM_FIX_GT)


def dem_fixture_h_sql(r: str, c: str) -> str:
    """The dem_fixture cell value as SQL over BIGINT row/col
    expressions — textually the same arithmetic the numpy grid build
    runs, so both engines agree to the last ulp."""
    return (f"(60.0 + 0.8 * CAST({c} AS DOUBLE)"
            f" + 0.45 * CAST({r} AS DOUBLE)"
            f" + 2.5 * CAST((3 * {c} + 5 * {r}) % 7 AS DOUBLE))")


def _dem_corner_cols(dem: DEM, px: str, py: str, pfx: str) -> str:
    """Select-list fragment computing the clamped bilinear corner
    index/weight columns {pfx}x0, {pfx}y0, {pfx}wx, {pfx}wy from the
    DEM-pixel coordinate columns — the SQL mirror of
    _dem_bilinear_clamped's index math."""
    H, W = dem.shape
    fx = f"(least(greatest({px}, 0.5), {_r(W - 0.5)}) - 0.5)"
    fy = f"(least(greatest({py}, 0.5), {_r(H - 0.5)}) - 0.5)"
    return (
        f"CAST(least(floor({fx}), {_r(W - 2)}) AS BIGINT) AS {pfx}x0, "
        f"CAST(least(floor({fy}), {_r(H - 2)}) AS BIGINT) AS {pfx}y0, "
        f"({fx} - least(floor({fx}), {_r(W - 2)})) AS {pfx}wx, "
        f"({fy} - least(floor({fy}), {_r(H - 2)})) AS {pfx}wy")


def _dem_bil_expr(h_sql, pfx: str) -> str:
    """Bilinear blend over the four analytic corner cells (raw grid
    value, no height offset/scale), multiplication order matching
    _dem_bilinear_clamped."""
    x0, y0, wx, wy = f"{pfx}x0", f"{pfx}y0", f"{pfx}wx", f"{pfx}wy"
    x1, y1 = f"({x0} + 1)", f"({y0} + 1)"
    return (f"({h_sql(y0, x0)} * (1.0 - {wx}) * (1.0 - {wy})"
            f" + {h_sql(y0, x1)} * {wx} * (1.0 - {wy})"
            f" + {h_sql(y1, x0)} * (1.0 - {wx}) * {wy}"
            f" + {h_sql(y1, x1)} * {wx} * {wy})")


def _dem_h_scaled(dem: DEM, bil: str) -> str:
    if dem.height_offset == 0.0 and dem.height_scale == 1.0:
        return bil
    return f"({_r(dem.height_offset)} + {bil} * {_r(dem.height_scale)})"


def rpc_dem_fwd_sql_ctes(rpc: RPC, dem: DEM, h_sql, src: str, *,
                         lon: str = "lon", lat: str = "lat",
                         keep: str = "id",
                         user_height: float = 0.0) -> str:
    """CTE chain replaying rpc_forward_dem; final CTE `rpc_dem_fwd`
    (keep, pixel, line) with NaN for points outside the DEM."""
    ig = dem.inv_gt
    H, W = dem.shape
    px, py = rpc_fwd_sql_exprs(
        rpc, "lon", "lat",
        height_expr=f"({_r(user_height)} + {_dem_h_scaled(dem, 'bil')})")
    return f"""
rpcdf_p AS (
  SELECT {keep}, ({lon}) AS lon, ({lat}) AS lat,
         {_r(ig[0])} + {_r(ig[1])} * ({lon}) AS dpx,
         {_r(ig[3])} + {_r(ig[5])} * ({lat}) AS dpy
  FROM {src}
),
rpcdf_c AS (
  SELECT *, (dpx >= 0.0 AND dpx <= {_r(W)} AND dpy >= 0.0
             AND dpy <= {_r(H)}) AS inb,
         {_dem_corner_cols(dem, 'dpx', 'dpy', 'f')}
  FROM rpcdf_p
),
rpcdf_h AS (
  SELECT {keep}, lon, lat, inb, {_dem_bil_expr(h_sql, 'f')} AS bil
  FROM rpcdf_c
),
rpc_dem_fwd AS (
  SELECT {keep},
         CASE WHEN inb THEN {px} ELSE CAST('nan' AS DOUBLE) END AS pixel,
         CASE WHEN inb THEN {py} ELSE CAST('nan' AS DOUBLE) END AS line
  FROM rpcdf_h
)""".strip()


def rpc_dem_inv_sql_ctes(rpc: RPC, dem: DEM, h_sql, src: str, *,
                         pixel: str = "px", line: str = "py",
                         keep: str = "id", user_height: float = 0.0,
                         pix_err_threshold: float = DEFAULT_PIX_ERR_THRESHOLD,
                         max_iter: int = MAX_ITER_DEM) -> str:
    """CTE chain unrolling rpc_inverse_dem's masked iterations — affine
    seed at the DEM refZ, per-iteration bilinear height, the
    iteration-0 snap quirk, oscillation damping and the x10 boost —
    byte-matched arithmetic so the DuckDB replay tracks the Arrow/numpy
    path to FMA-contraction level. Final CTE `rpc_dem_inv`
    (keep, lon, lat), NaN for unconverged/failed points."""
    ref_z = dem_ref_z(rpc, dem)
    gt = rpc_affine(rpc, ref_z)
    g = [_r(v) for v in gt]
    ig = dem.inv_gt
    H, W = dem.shape
    thr = _r(pix_err_threshold)
    st = "tpx, tpy, x, y, done, fail, lx, ly, ldx, ldy, lvalid, cnt"
    bx, by = rpc_fwd_sql_exprs(
        rpc, "x", "y", height_expr=f"({_r(user_height)} + demh)")
    parts = [f"""
rpcd_i0 AS (
  SELECT {keep}, ({pixel}) AS tpx, ({line}) AS tpy,
         {g[0]} + {g[1]} * ({pixel}) + {g[2]} * ({line}) AS x,
         {g[3]} + {g[4]} * ({pixel}) + {g[5]} * ({line}) AS y,
         FALSE AS done, FALSE AS fail,
         0.0 AS lx, 0.0 AS ly, 0.0 AS ldx, 0.0 AS ldy,
         FALSE AS lvalid, CAST(0 AS BIGINT) AS cnt
  FROM {src}
)"""]
    for i in range(max_iter):
        if i == 0:
            # snap quirk (gdal_rpc.cpp:1205-1237): east/west overshoot
            # snaps to the border sample, a too-far-north line snaps to
            # Hs-0.5, but a NEGATIVE line is never snapped -> refZ
            snap = f"""
         CASE WHEN dpx >= {_r(W)} THEN {_r(W - 0.5)}
              WHEN dpx < 0.0 THEN 0.5 ELSE dpx END AS spx,
         CASE WHEN dpy >= {_r(H)} THEN {_r(H - 0.5)} ELSE dpy END AS spy,"""
            snap_cols = f"{_dem_corner_cols(dem, 'spx', 'spy', 's')},"
            demh = f"""CASE WHEN inb THEN {_dem_h_scaled(dem, _dem_bil_expr(h_sql, 'f'))}
              WHEN spy >= 0.0 THEN {_dem_bil_expr(h_sql, 's')}
              ELSE {_r(ref_z)} END"""
            fail_upd = "fail"
        else:
            snap = ""
            snap_cols = ""
            demh = _dem_h_scaled(dem, _dem_bil_expr(h_sql, 'f'))
            fail_upd = "(fail OR (NOT done AND NOT fail AND NOT inb))"
        parts.append(f"""
rpcd_p{i} AS (
  SELECT {keep}, {st},
         {_r(ig[0])} + {_r(ig[1])} * x AS dpx,
         {_r(ig[3])} + {_r(ig[5])} * y AS dpy
  FROM rpcd_i{i}
),
rpcd_c{i} AS (
  SELECT *, (dpx >= 0.0 AND dpx <= {_r(W)} AND dpy >= 0.0
             AND dpy <= {_r(H)}) AS inb,{snap}
         {_dem_corner_cols(dem, 'dpx', 'dpy', 'f')}
  FROM rpcd_p{i}
),
rpcd_h{i} AS (
  SELECT {keep}, tpx, tpy, x, y, done, {fail_upd} AS fail,
         lx, ly, ldx, ldy, lvalid, cnt,{snap_cols and chr(10) + '         ' + snap_cols[:-1] + ','}
         {demh} AS demh
  FROM rpcd_c{i}
),
rpcd_b{i} AS (
  SELECT {keep}, {st},
         {bx} - tpx AS dx, {by} - tpy AS dy
  FROM rpcd_h{i}
),
rpcd_e{i} AS (
  SELECT *, greatest(abs(dx), abs(dy)) AS err FROM rpcd_b{i}
),
rpcd_f{i} AS (
  SELECT *, (NOT done AND NOT fail AND NOT (err < {thr})) AS step
  FROM rpcd_e{i}
),
rpcd_g{i} AS (
  SELECT *, (step AND lvalid AND dx * ldx < 0.0 AND dy * ldy < 0.0) AS osc,
         CASE WHEN cnt >= 5 AND err < 2.0 THEN 10.0 ELSE 1.0 END AS boost
  FROM rpcd_f{i}
),
rpcd_m{i} AS (
  SELECT *, (step AND NOT osc) AS mv FROM rpcd_g{i}
),
rpcd_i{i + 1} AS (
  SELECT {keep}, tpx, tpy,
         CASE WHEN NOT step THEN x
              WHEN osc THEN (abs(dx) * lx + abs(ldx) * x)
                           / (abs(dx) + abs(ldx))
              ELSE x - (dx * {g[1]} + dy * {g[2]}) * boost END AS x,
         CASE WHEN NOT step THEN y
              WHEN osc THEN (abs(dy) * ly + abs(ldy) * y)
                           / (abs(dy) + abs(ldy))
              ELSE y - (dx * {g[4]} + dy * {g[5]}) * boost END AS y,
         (done OR (NOT done AND NOT fail AND err < {thr})) AS done,
         fail,
         CASE WHEN mv THEN x ELSE lx END AS lx,
         CASE WHEN mv THEN y ELSE ly END AS ly,
         CASE WHEN mv THEN dx ELSE ldx END AS ldx,
         CASE WHEN mv THEN dy ELSE ldy END AS ldy,
         CASE WHEN osc THEN FALSE WHEN mv THEN TRUE ELSE lvalid END AS lvalid,
         CASE WHEN osc THEN 0
              WHEN mv THEN (CASE WHEN err < 2.0 THEN cnt + 1 ELSE 0 END)
              ELSE cnt END AS cnt
  FROM rpcd_m{i}
)""")
    parts.append(f"""
rpc_dem_inv AS (
  SELECT {keep},
         CASE WHEN done THEN x ELSE CAST('nan' AS DOUBLE) END AS lon,
         CASE WHEN done THEN y ELSE CAST('nan' AS DOUBLE) END AS lat
  FROM rpcd_i{max_iter}
)""")
    return ",".join(p.strip() for p in parts)


# ---------------------------------- RPC_DEM without broadcasting: chip gather

def dem_tiles_df(spark, dem: DEM, *, tile: int = 64) -> DataFrame:
    """The DEM as a distributed tile table (tty, ttx, th, tw, vals) —
    the storage shape a continent-scale DEM that cannot ride a UDF
    closure would have (in production: a parquet table partitioned by
    tile key; here built from the in-memory fixture). vals is the
    row-major float64 block, edge tiles partial."""
    H, W = dem.shape
    rows = []
    for ty in range((H + tile - 1) // tile):
        for tx in range((W + tile - 1) // tile):
            blk = dem.grid[ty * tile:(ty + 1) * tile,
                           tx * tile:(tx + 1) * tile]
            rows.append((ty, tx, blk.shape[0], blk.shape[1],
                         [float(v) for v in blk.ravel()]))
    return spark.createDataFrame(
        rows, "tty int, ttx int, th int, tw int, vals array<double>")


def _bilinear_chips(chips, cx0, cy0, px, py, W, H):
    """_dem_bilinear_clamped against per-point chips: identical global
    clamp + corner-index arithmetic, lookups shifted into each point's
    (cx0, cy0)-anchored window. Returns (value, in_chip) — a corner
    falling outside the gathered window is a coverage miss, not an
    arithmetic result."""
    fx = np.minimum(np.maximum(px, 0.5), W - 0.5) - 0.5
    fy = np.minimum(np.maximum(py, 0.5), H - 0.5) - 0.5
    x0 = np.minimum(np.floor(fx), W - 2).astype(np.int64)
    y0 = np.minimum(np.floor(fy), H - 2).astype(np.int64)
    wx = fx - x0
    wy = fy - y0
    S = chips.shape[1]
    lx = x0 - cx0
    ly = y0 - cy0
    ok = (lx >= 0) & (lx <= S - 2) & (ly >= 0) & (ly <= S - 2)
    lx = np.clip(lx, 0, S - 2)
    ly = np.clip(ly, 0, S - 2)
    i = np.arange(len(lx))
    v = (chips[i, ly, lx] * (1 - wx) * (1 - wy)
         + chips[i, ly, lx + 1] * wx * (1 - wy)
         + chips[i, ly + 1, lx] * (1 - wx) * wy
         + chips[i, ly + 1, lx + 1] * wx * wy)
    return v, ok


def apply_rpc_inverse_dem_gather(df: DataFrame, rpc: RPC, dem: DEM,
                                 tiles: DataFrame, *,
                                 id_col: str = "id",
                                 pixel: str = "pixel", line: str = "line",
                                 user_height: float = 0.0, chip_r: int = 4,
                                 tile: int = 64,
                                 pix_err_threshold: float =
                                 DEFAULT_PIX_ERR_THRESHOLD,
                                 max_iter: int = MAX_ITER_DEM) -> DataFrame:
    """The RPC_DEM inverse for DEMs too large to broadcast — the
    tile-join gather the DEM docstring promises (same arithmetic as
    rpc_inverse_dem, gdal_rpc.cpp:1128-1360). Plan shape, fixed and
    scale-free:

      1. JVM-side: affine seed at refZ, DEM window
         [seed - chip_r, seed + chip_r + 2)^2 clamped inside the DEM
         (the distributed stand-in for GDAL's DEM block cache around
         the working chunk);
      2. ONE equi-join against the tile table (each point explodes to
         the <= 4 tiles its window overlaps), pieces sliced
         Arrow-side — (2*chip_r+2)^2 float64s per point move, never
         whole tiles;
      3. ONE regroup by point id, then the full 20-iteration masked
         kernel vectorized over the per-point chips.

    `dem` supplies metadata only (gt/shape/offsets + the refZ probe);
    the grid values travel exclusively through `tiles`. Iterates are
    bit-identical to the broadcast kernel while they stay inside the
    window (the clamp+corner math is shared); a point whose iterate
    leaves its window — seed farther than chip_r DEM pixels from the
    true position, i.e. height-induced parallax beyond the margin —
    fails conservatively (NaN; production would re-run the NaN tail
    with a larger chip_r). The iteration-0 out-of-DEM snap quirk is
    likewise out of this variant's scope: points must seed inside the
    DEM. Returns (id_col, pixel, line, lon, lat) — one row per input
    row, NaN/NULL pixel inputs included (they come back with NaN
    lon/lat, the same cardinality contract as the broadcast
    variant)."""
    S = 2 * chip_r + 2
    ref_z = dem_ref_z(rpc, dem)
    gt = rpc_affine(rpc, ref_z)
    ig = dem.inv_gt
    H, W = dem.shape
    assert W >= S and H >= S, "DEM smaller than one chip"
    h_off, h_scale = dem.height_offset, dem.height_scale

    px, py = F.col(pixel), F.col(line)
    # NaN/NULL pixel coords cannot seed (floor -> NULL -> sequence ->
    # explode would silently DROP the row); route them straight to the
    # NaN output so the cardinality contract matches the broadcast arm
    bad = (px.isNull() | py.isNull() | F.isnan(px) | F.isnan(py))
    bad_rows = df.filter(bad).select(
        F.col(id_col).cast("bigint").alias(id_col),
        px.cast("double").alias(pixel), py.cast("double").alias(line),
        F.lit(float("nan")).alias("lon"), F.lit(float("nan")).alias("lat"))
    df = df.filter(~bad)
    x = F.lit(gt[0]) + F.lit(gt[1]) * px + F.lit(gt[2]) * py
    y = F.lit(gt[3]) + F.lit(gt[4]) * px + F.lit(gt[5]) * py
    dpx = F.lit(ig[0]) + F.lit(ig[1]) * x
    dpy = F.lit(ig[3]) + F.lit(ig[5]) * y
    cx0 = F.least(F.greatest(F.floor(dpx) - chip_r, F.lit(0)),
                  F.lit(W - S)).cast("bigint")
    cy0 = F.least(F.greatest(F.floor(dpy) - chip_r, F.lit(0)),
                  F.lit(H - S)).cast("bigint")
    seeded = df.select(
        F.col(id_col).alias("_pid"), px.alias("_tpx"), py.alias("_tpy"),
        cx0.alias("_cx0"), cy0.alias("_cy0"))
    exploded = seeded.select(
        "*",
        F.explode(F.sequence((F.col("_cx0") / tile).cast("int"),
                             ((F.col("_cx0") + S - 1) / tile).cast("int"))
                  ).alias("ttx"),
    ).select(
        "*",
        F.explode(F.sequence((F.col("_cy0") / tile).cast("int"),
                             ((F.col("_cy0") + S - 1) / tile).cast("int"))
                  ).alias("tty"),
    )
    joined = exploded.join(tiles, ["tty", "ttx"])

    piece_schema = ("_pid bigint, _tpx double, _tpy double, _cx0 bigint, "
                    "_cy0 bigint, ox int, oy int, pw int, ph int, "
                    "pvals array<double>")

    def slice_pieces(batches):
        for pdf in batches:
            out = {k: [] for k in ("_pid", "_tpx", "_tpy", "_cx0", "_cy0",
                                   "ox", "oy", "pw", "ph", "pvals")}
            for pid, tpx, tpy, c_x0, c_y0, tty, ttx, th, tw, vals in zip(
                    pdf["_pid"], pdf["_tpx"], pdf["_tpy"], pdf["_cx0"],
                    pdf["_cy0"], pdf["tty"], pdf["ttx"], pdf["th"],
                    pdf["tw"], pdf["vals"]):
                gx0, gy0 = int(ttx) * tile, int(tty) * tile
                blk = np.asarray(vals, dtype=np.float64).reshape(
                    int(th), int(tw))
                ix0 = max(int(c_x0), gx0)
                iy0 = max(int(c_y0), gy0)
                ix1 = min(int(c_x0) + S, gx0 + int(tw))
                iy1 = min(int(c_y0) + S, gy0 + int(th))
                if ix1 <= ix0 or iy1 <= iy0:
                    continue
                sub = blk[iy0 - gy0:iy1 - gy0, ix0 - gx0:ix1 - gx0]
                out["_pid"].append(pid)
                out["_tpx"].append(tpx)
                out["_tpy"].append(tpy)
                out["_cx0"].append(c_x0)
                out["_cy0"].append(c_y0)
                out["ox"].append(ix0 - int(c_x0))
                out["oy"].append(iy0 - int(c_y0))
                out["pw"].append(ix1 - ix0)
                out["ph"].append(iy1 - iy0)
                out["pvals"].append(sub.ravel().tolist())
            yield pd.DataFrame(out)

    pieces = joined.mapInPandas(slice_pieces, piece_schema)
    agg = pieces.groupBy("_pid").agg(
        F.first("_tpx").alias("_tpx"), F.first("_tpy").alias("_tpy"),
        F.first("_cx0").alias("_cx0"), F.first("_cy0").alias("_cy0"),
        F.collect_list(F.struct("ox", "oy", "pw", "ph", "pvals")).alias("_ps"))

    out_schema = f"{id_col} bigint, {pixel} double, {line} double, " \
                 "lon double, lat double"

    def kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            chips = np.zeros((n, S, S), dtype=np.float64)
            covered = np.zeros((n, S, S), dtype=bool)
            for i, ps in enumerate(pdf["_ps"]):
                for p in ps:
                    blk = np.asarray(p["pvals"], dtype=np.float64).reshape(
                        p["ph"], p["pw"])
                    chips[i, p["oy"]:p["oy"] + p["ph"],
                          p["ox"]:p["ox"] + p["pw"]] = blk
                    covered[i, p["oy"]:p["oy"] + p["ph"],
                            p["ox"]:p["ox"] + p["pw"]] = True
            full = covered.all(axis=(1, 2))
            tpx = pdf["_tpx"].to_numpy(dtype=np.float64)
            tpy = pdf["_tpy"].to_numpy(dtype=np.float64)
            c_x0 = pdf["_cx0"].to_numpy(dtype=np.int64)
            c_y0 = pdf["_cy0"].to_numpy(dtype=np.int64)
            x = gt[0] + gt[1] * tpx + gt[2] * tpy
            y = gt[3] + gt[4] * tpx + gt[5] * tpy
            done = np.zeros(n, dtype=bool)
            fail = ~full
            lx = np.zeros_like(x)
            ly = np.zeros_like(y)
            ldx = np.zeros_like(x)
            ldy = np.zeros_like(y)
            lvalid = np.zeros(n, dtype=bool)
            cnt = np.zeros(n, dtype=np.int64)
            # NOTE: this iteration body is the arithmetic twin of
            # rpc_inverse_dem's (and of rpc_dem_inv_sql_ctes) with the
            # height lookup swapped for the chip sampler and the snap
            # quirk replaced by conservative failure. Kept inline
            # rather than callback-factored: the gate pins the
            # broadcast kernel bit-exactly against the SQL replay, and
            # equality tests pin this one against the broadcast kernel
            # — any semantic edit must touch all three together.
            for _ in range(max_iter):
                active = ~done & ~fail
                dpx_ = ig[0] + ig[1] * x
                dpy_ = ig[3] + ig[5] * y
                inb = (dpx_ >= 0.0) & (dpx_ <= W) & (dpy_ >= 0.0) \
                    & (dpy_ <= H)
                raw, in_chip = _bilinear_chips(chips, c_x0, c_y0,
                                               dpx_, dpy_, W, H)
                fail = fail | (active & ~(inb & in_chip))
                active = active & ~fail
                demh = h_off + raw * h_scale
                bx, by = rpc_forward(rpc, x, y,
                                     np.asarray(user_height) + demh)
                dx = bx - tpx
                dy = by - tpy
                err = np.maximum(np.abs(dx), np.abs(dy))
                conv = active & (err < pix_err_threshold)
                done = done | conv
                step = active & ~conv
                osc = step & lvalid & (dx * ldx < 0.0) & (dy * ldy < 0.0)
                mv = step & ~osc
                boost = np.where((cnt >= 5) & (err < 2.0), 10.0, 1.0)
                cnt = np.where(mv, np.where(err < 2.0, cnt + 1, 0), cnt)
                cnt = np.where(osc, 0, cnt)
                with np.errstate(invalid="ignore", divide="ignore"):
                    nx = np.where(
                        osc,
                        (np.abs(dx) * lx + np.abs(ldx) * x)
                        / (np.abs(dx) + np.abs(ldx)),
                        x - (dx * gt[1] + dy * gt[2]) * boost)
                    ny = np.where(
                        osc,
                        (np.abs(dy) * ly + np.abs(ldy) * y)
                        / (np.abs(dy) + np.abs(ldy)),
                        y - (dx * gt[4] + dy * gt[5]) * boost)
                lx = np.where(mv, x, lx)
                ly = np.where(mv, y, ly)
                ldx = np.where(mv, dx, ldx)
                ldy = np.where(mv, dy, ldy)
                lvalid = np.where(osc, False, np.where(mv, True, lvalid))
                x = np.where(step, nx, x)
                y = np.where(step, ny, y)
            yield pd.DataFrame({
                id_col: pdf["_pid"].to_numpy(dtype=np.int64),
                pixel: tpx, line: tpy,
                "lon": np.where(done, x, np.nan),
                "lat": np.where(done, y, np.nan),
            })

    return agg.mapInPandas(kernel, out_schema).unionByName(bad_rows)
