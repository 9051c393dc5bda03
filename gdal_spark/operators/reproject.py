"""Coordinate reprojection — the ogr2ogr/warp transform stage.

The reference transforms coordinates in batch through PROJ
(OGRCoordinateTransformation::Transform over arrays, ogrct.cpp:2254).
Here:

- EPSG:4326 <-> EPSG:3857 (the tiling CRS pair) is implemented as
  exact closed-form column math (gdal2tiles.py:422-443 formulas) —
  whole-stage codegen, no UDF at all.
- EPSG:4326 <-> UTM (326xx) is the closed-form 6th-order Krüger
  series (kernels.tmerc — the same algorithm as PROJ's etmerc) as
  codegen column math: utm_forward_cols / utm_inverse_cols.
  This covers the reference's own ogr2ogr benchmark CRS pair
  (32631 -> 4326) without any external wheel.
- Other arbitrary CRS pairs go through pyproj (same PROJ underneath
  as the reference) inside an Arrow-batched pandas UDF, gated on the
  wheel being present (it is not in this container).
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import tiles as TF

try:  # optional, mirrors the reference's PROJ dependency
    import pyproj  # noqa: F401

    HAVE_PYPROJ = True
except ImportError:
    HAVE_PYPROJ = False


def to_mercator(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """EPSG:4326 -> EPSG:3857 columns (mx, my)."""
    return df.withColumns({"mx": F.expr(TF.merc_mx(TF.quote(lon))),
                           "my": F.expr(TF.merc_my(TF.quote(lat)))})


def from_mercator(df: DataFrame, mx: str = "mx", my: str = "my") -> DataFrame:
    """EPSG:3857 -> EPSG:4326 columns (lon2, lat2)
    (gdal2tiles.py:432-443 MetersToLatLon)."""
    os_ = TF.ORIGIN_SHIFT
    return df.withColumn("lon2", F.col(mx) / F.lit(os_) * F.lit(180.0)).withColumn(
        "lat2",
        F.lit(180.0 / np.pi)
        * (F.lit(2.0) * F.atan(F.exp(F.col(my) / F.lit(os_) * F.lit(np.pi)))
           - F.lit(np.pi / 2.0)),
    )


def roundtrip_error(df: DataFrame, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """4326 -> 3857 -> 4326 with per-row |error| in degrees — the warp
    round-trip check pattern (test_gdalwarp_lib.py:31-113)."""
    out = from_mercator(to_mercator(df, lon, lat))
    return out.withColumn(
        "err",
        F.greatest(
            F.abs(F.col("lon2") - F.col(lon)), F.abs(F.col("lat2") - F.col(lat))
        ),
    )


def approx_transform_line(xs: "np.ndarray", fn, *, tol: float,
                          _depth: int = 0) -> "np.ndarray":
    """Error-bounded approximation of an expensive 1-D transform over a
    MONOTONE coordinate line (the GDALApproxTransformer technique,
    alg/gdaltransformer.cpp:58-61, 2571; gdalwarp default tolerance
    0.125 px, apps/gdalwarp_lib.cpp:1576).

    Evaluate the exact `fn` at the span endpoints + midpoint; if the
    midpoint's linear interpolation error <= tol, lerp the whole span,
    else recurse on both halves. Returns fn(xs) to within tol using
    O(k log n) exact evaluations for smooth fn (k = spans needed).

    Used inside warp UDF batches where fn is a real PROJ pipeline; the
    closed-form mercator paths don't need it (already column math), so
    this ships as the kernel + contract test, wired for the pyproj UDF.
    """
    import numpy as np

    xs = np.asarray(xs, dtype=np.float64)
    n = xs.shape[0]
    if n <= 3 or _depth > 40:
        return fn(xs)
    mid = n // 2
    e0, em, e1 = fn(xs[:1])[0], fn(xs[mid:mid + 1])[0], fn(xs[-1:])[0]
    # lerp estimate of the midpoint from the endpoints
    t = (xs[mid] - xs[0]) / (xs[-1] - xs[0]) if xs[-1] != xs[0] else 0.5
    est = e0 + t * (e1 - e0)
    if abs(est - em) <= tol:
        tt = (xs - xs[0]) / (xs[-1] - xs[0]) if xs[-1] != xs[0] else np.zeros(n)
        out = e0 + tt * (e1 - e0)
        out[mid] = em  # exact where we paid for it
        return out
    left = approx_transform_line(xs[: mid + 1], fn, tol=tol, _depth=_depth + 1)
    right = approx_transform_line(xs[mid:], fn, tol=tol, _depth=_depth + 1)
    return np.concatenate([left, right[1:]])


def _angle_multiple_stages(s: DataFrame, base: str, pre: str) -> DataFrame:
    """Add sin/cos of 2j*base for j=1..6 as columns {pre}s{j}/{pre}c{j}
    via the angle-addition recurrence off sin/cos(2*base) — two
    transcendentals total instead of twelve. Consecutive projections
    fuse into one whole-stage-codegen span (local variables, not row
    copies), so the stage chain is free."""
    s = s.selectExpr("*", f"sin({base}) AS {pre}_s0", f"cos({base}) AS {pre}_c0")
    s = s.selectExpr("*",
                     f"2.0 * {pre}_s0 * {pre}_c0 AS {pre}s1",
                     f"2.0 * {pre}_c0 * {pre}_c0 - 1.0 AS {pre}c1")
    for j in range(2, 7):
        s = s.selectExpr(
            "*",
            f"{pre}s{j - 1} * {pre}c1 + {pre}c{j - 1} * {pre}s1 AS {pre}s{j}",
            f"{pre}c{j - 1} * {pre}c1 - {pre}s{j - 1} * {pre}s1 AS {pre}c{j}")
    return s


def _hyper_multiple_exprs(bcol: str, bicol: str) -> tuple[list[str], list[str]]:
    """sinh/cosh(2j*x) for j=1..6 given bcol = exp(2x) and
    bicol = exp(-2x): power products of TWO exponentials
    ((B^j ± Bi^j)/2) — mults only. Bi is an explicit negative exp, not
    1/B: under ANSI mode (Spark 4 default) a division by an
    underflowed exp(2x) == 0 raises DIVIDE_BY_ZERO, whereas exp(-2x)
    just overflows to inf with the same IEEE value the numpy twin
    produces for out-of-zone coordinates."""
    sh, ch = [], []
    for j in range(1, 7):
        p = " * ".join([bcol] * j)
        q = " * ".join([bicol] * j)
        sh.append(f"(({p}) - ({q})) / 2.0")
        ch.append(f"(({p}) + ({q})) / 2.0")
    return sh, ch


def utm_forward_cols(df: DataFrame, zone: int, lon: str = "lon",
                     lat: str = "lat") -> DataFrame:
    """Geographic -> UTM (EPSG:326xx) over the closed-form Krüger
    series (kernels.tmerc) — the engine's native path for the
    reference's single most common ogr2ogr case (32631<->4326,
    autotest/benchmark/test_ogr2ogr.py:61-66; batch Transform API
    ogrct.cpp:2254). Adds (easting, northing).

    Pure codegen column math, no Python in the plan (coefficients
    from kernels.tmerc — the identical literals the numpy kernel and
    the DuckDB oracle consume). Transcendental-minimized: the twelve
    cosh/sinh(2j*eta') collapse to power products of ONE exp, the
    twelve sin/cos(2j*xi') to the angle-addition recurrence — ~11
    transcendentals/row total. Associativity-level reordering vs the
    oracle's plain form; the difference is O(1e-9 m), absorbed by the
    mm rounding at the query contract."""
    from ..kernels import tmerc as TM

    lon0, deg = TM._r(TM.zone_lon0(zone)), TM._r(TM.DEG)
    ecc, ka = TM._r(TM.ECC), TM._r(TM.K0 * TM.AHAT)
    keep = df.columns
    s = df.selectExpr("*", f"(({lon}) - {lon0}) * {deg} AS _lam",
                      f"({lat}) * {deg} AS _phi")
    s = s.selectExpr(
        "*",
        f"{TM.asinh_sql('tan(_phi)')} - {ecc} * "
        f"{TM.atanh_sql(f'{ecc} * sin(_phi)')} AS _psi")
    s = s.selectExpr("*", "exp(_psi) AS _ep", "exp(-(_psi)) AS _epi",
                     "cos(_lam) AS _clam")
    s = s.selectExpr("*", "(_ep - _epi) / 2.0 AS _tp")
    s = s.selectExpr(
        "*", "atan2(_tp, _clam) AS xi_p",
        "sin(_lam) / sqrt(_tp*_tp + _clam*_clam) AS _w")
    s = s.selectExpr("*", f"{TM.asinh_sql('_w')} AS eta_p")
    s = s.selectExpr("*", "exp(2.0 * eta_p) AS _B", "exp(-2.0 * eta_p) AS _Bi")
    s = _angle_multiple_stages(s, "xi_p", "_x")
    sh, ch = _hyper_multiple_exprs("_B", "_Bi")
    xi_terms = " + ".join(
        f"{TM._r(aj)} * _xs{j} * ({ch[j - 1]})"
        for j, aj in enumerate(TM.ALPHA, start=1))
    eta_terms = " + ".join(
        f"{TM._r(aj)} * _xc{j} * ({sh[j - 1]})"
        for j, aj in enumerate(TM.ALPHA, start=1))
    return s.selectExpr(
        *keep,
        f"{TM._r(TM.FALSE_E)} + {ka} * (eta_p + {eta_terms}) AS easting",
        f"{ka} * (xi_p + {xi_terms}) AS northing")


def utm_inverse_cols(df: DataFrame, zone: int, easting: str = "easting",
                     northing: str = "northing") -> DataFrame:
    """UTM -> geographic; adds (lon_inv, lat_inv). Inverse Krüger
    series + 3 unrolled Newton steps (Karney eq. 19-21) as codegen
    column math, transcendental-minimized like the
    forward path. Each Newton sig = sinh(ecc*atanh(x)) folds to
    (z - 1/z)/2 with z = ((1+x)/(1-x))^(ecc/2) — one pow per step."""
    from ..kernels import tmerc as TM

    lon0, deg = TM._r(TM.zone_lon0(zone)), TM._r(TM.DEG)
    ecc, e2 = TM._r(TM.ECC), TM._r(TM.E2)
    half_ecc = TM._r(TM.ECC / 2.0)
    ka = TM._r(TM.K0 * TM.AHAT)
    keep = df.columns
    s = df.selectExpr("*", f"({northing}) / {ka} AS _xi",
                      f"(({easting}) - {TM._r(TM.FALSE_E)}) / {ka} AS _eta")
    s = s.selectExpr("*", "exp(2.0 * _eta) AS _B", "exp(-2.0 * _eta) AS _Bi")
    s = _angle_multiple_stages(s, "_xi", "_x")
    sh, ch = _hyper_multiple_exprs("_B", "_Bi")
    xi_terms = " + ".join(
        f"{TM._r(bj)} * _xs{j} * ({ch[j - 1]})"
        for j, bj in enumerate(TM.BETA, start=1))
    eta_terms = " + ".join(
        f"{TM._r(bj)} * _xc{j} * ({sh[j - 1]})"
        for j, bj in enumerate(TM.BETA, start=1))
    s = s.selectExpr("*", f"_xi - ({xi_terms}) AS xi_p",
                     f"_eta - ({eta_terms}) AS eta_p")
    s = s.selectExpr("*", "exp(eta_p) AS _epp", "exp(-(eta_p)) AS _eppi",
                     "cos(xi_p) AS cxi", "sin(xi_p) AS sxi")
    s = s.selectExpr("*", "(_epp - _eppi) / 2.0 AS sh_eta")
    s = s.selectExpr(
        "*", "sxi / sqrt(sh_eta*sh_eta + cxi*cxi) AS tp",
        "atan2(sh_eta, cxi) AS _lam2")
    s = s.selectExpr("*", "tp AS tau0")
    for i in range(3):
        t = f"tau{i}"
        s = s.selectExpr("*", f"sqrt(1.0 + {t}*{t}) AS t1")
        s = s.selectExpr("*", f"{ecc} * {t} / t1 AS _nx")
        s = s.selectExpr(
            "*", f"power((1.0 + _nx) / (1.0 - _nx), {half_ecc}) AS _z",
            f"power((1.0 - _nx) / (1.0 + _nx), {half_ecc}) AS _zi")
        s = s.selectExpr("*", "(_z - _zi) / 2.0 AS sig")
        s = s.selectExpr(
            "*",
            f"{t} - (({t} * sqrt(1.0 + sig*sig) - sig * t1 - tp)"
            f" / ((sqrt((1.0 + sig*sig) * (1.0 + {t}*{t})) - sig * {t})"
            f" * (1.0 - {e2}) * t1 / (1.0 + (1.0 - {e2}) * {t}*{t})))"
            f" AS tau{i + 1}") \
             .drop("t1", "_nx", "_z", "_zi", "sig", t)
    return s.selectExpr(
        *keep,
        f"{lon0} + _lam2 / {deg} AS lon_inv",
        f"atan(tau3) / {deg} AS lat_inv")


def osgb_forward_cols(df: DataFrame, lon: str = "lon",
                      lat: str = "lat") -> DataFrame:
    """EPSG:4326 -> EPSG:27700 (British National Grid): geocentric +
    exact-inverse 7-param Helmert + Airy-1830 Krüger TM, all one
    Arrow-batched numpy kernel (kernels.datum.wgs84_to_osgb — the
    closed-form equivalent of the reference's PROJ TOWGS84 pipeline,
    ogr/ogrct.cpp:2254). Adds (easting, northing)."""
    from ..kernels import datum as DT

    @F.pandas_udf("struct<easting:double, northing:double>")
    def _fwd(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        e, n = DT.wgs84_to_osgb(lon_s.to_numpy(), lat_s.to_numpy())
        return pd.DataFrame({"easting": e, "northing": n})

    res = df.withColumn("_en", _fwd(F.col(lon), F.col(lat)))
    return res.withColumn("easting", F.col("_en.easting")).withColumn(
        "northing", F.col("_en.northing")
    ).drop("_en")


def osgb_inverse_cols(df: DataFrame, easting: str = "easting",
                      northing: str = "northing") -> DataFrame:
    """EPSG:27700 -> EPSG:4326. Adds (lon_inv, lat_inv)."""
    from ..kernels import datum as DT

    @F.pandas_udf("struct<lon:double, lat:double>")
    def _inv(e_s: pd.Series, n_s: pd.Series) -> pd.DataFrame:
        lo, la = DT.osgb_to_wgs84(e_s.to_numpy(), n_s.to_numpy())
        return pd.DataFrame({"lon": lo, "lat": la})

    res = df.withColumn("_ll", _inv(F.col(easting), F.col(northing)))
    return res.withColumn("lon_inv", F.col("_ll.lon")).withColumn(
        "lat_inv", F.col("_ll.lat")
    ).drop("_ll")


def gridshift_forward_cols(df: DataFrame, g, lon: str = "lon",
                           lat: str = "lat") -> DataFrame:
    """Horizontal grid-shift datum step (PROJ +proj=hgridshift, the
    NTv2 path the reference builds for grid-based datums like NAD27 —
    ogr/ogrct.cpp:2254): bilinear (dlat, dlon) arcsec shift from the
    loaded sub-grid, applied forward. The sub-grid (MBs for real NTv2
    files) rides the UDF closure — one ship per executor; points ship
    16 B each through Arrow. Off-grid points -> NaN (PROJ's
    untransformable marker). Adds (lon_sh, lat_sh)."""
    from ..kernels import gridshift as GS

    @F.pandas_udf("struct<lon:double, lat:double>")
    def _fwd(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        lo, la = GS.gridshift_forward(g, lon_s.to_numpy(), lat_s.to_numpy())
        return pd.DataFrame({"lon": lo, "lat": la})

    res = df.withColumn("_sh", _fwd(F.col(lon), F.col(lat)))
    return res.withColumn("lon_sh", F.col("_sh.lon")).withColumn(
        "lat_sh", F.col("_sh.lat")).drop("_sh")


def gridshift_inverse_cols(df: DataFrame, g, lon: str = "lon_sh",
                           lat: str = "lat_sh") -> DataFrame:
    """Reverse grid-shift (hgridshift.cpp reverse): bounded masked
    fixed-point iteration re-evaluating the shift at each guess.
    Adds (lon_inv, lat_inv)."""
    from ..kernels import gridshift as GS

    @F.pandas_udf("struct<lon:double, lat:double>")
    def _inv(lon_s: pd.Series, lat_s: pd.Series) -> pd.DataFrame:
        lo, la = GS.gridshift_inverse(g, lon_s.to_numpy(), lat_s.to_numpy())
        return pd.DataFrame({"lon": lo, "lat": la})

    res = df.withColumn("_ll", _inv(F.col(lon), F.col(lat)))
    return res.withColumn("lon_inv", F.col("_ll.lon")).withColumn(
        "lat_inv", F.col("_ll.lat")).drop("_ll")


def _closed_form(epsg: int):
    """Closed-form kernel for a projected EPSG code, or None.
    Covers the three most common projected families: UTM
    (kernels.tmerc), Lambert Conformal Conic 2SP and Polar
    Stereographic B (kernels.conic)."""
    from ..kernels import conic

    if 32601 <= epsg <= 32660 or 32701 <= epsg <= 32760:
        zone = epsg % 100
        return ("utm", zone)
    if epsg == 2154:
        return ("lcc", conic.LAMBERT93)
    if epsg == 3413:
        return ("ps", conic.NSIDC_NORTH)
    if epsg == 27700:
        # datum-shifted TM: Airy 1830 National Grid via the 7-param
        # Helmert chain (kernels.datum) — the first closed-form path
        # through a real TOWGS84 datum shift (VERDICT r3 item 4)
        return ("datum_tm", None)
    if 25828 <= epsg <= 25838:
        # ETRS89 / UTM (GRS80; null datum shift vs WGS84 at 2D)
        return ("tmcrs", epsg % 100)
    return None


def reproject_udf(df: DataFrame, src_epsg: int, dst_epsg: int,
                  lon: str = "lon", lat: str = "lat") -> DataFrame:
    """General CRS pair as a batch pandas UDF (the 1:1 mapping of the
    reference's array Transform API, ogrct.cpp:2254). Dispatch order:
    1. closed-form kernels for 4326 <-> {326xx/327xx UTM, 2154
       Lambert-93, 3413 polar stereographic north, 27700 OSGB datum
       shift, 258xx ETRS89/UTM} — no dependency;
    2. pyproj for anything else (gated on the wheel being present).
    Output columns: (x_dst, y_dst)."""
    from ..kernels import conic

    cf = None
    fwd = None
    if src_epsg == 4326:
        cf, fwd = _closed_form(dst_epsg), True
    elif dst_epsg == 4326:
        cf, fwd = _closed_form(src_epsg), False
    if cf is not None:
        kind, prm = cf

        @F.pandas_udf("struct<x:double, y:double>")
        def _cftx(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
            from ..kernels import conic as C
            from ..kernels import tmerc as TM

            xv, yv = xs.to_numpy(), ys.to_numpy()
            if kind == "utm":
                f = TM.utm_forward if fwd else TM.utm_inverse
                ox, oy = f(xv, yv, prm)
            elif kind == "datum_tm":
                from ..kernels import datum as DT
                f = DT.wgs84_to_osgb if fwd else DT.osgb_to_wgs84
                ox, oy = f(xv, yv)
            elif kind == "tmcrs":
                from ..kernels import datum as DT
                crs = DT.etrs89_utm(prm)
                if fwd:
                    ox, oy = DT.tm_forward(xv, yv, crs)
                else:
                    ox, oy = DT.tm_inverse(xv, yv, crs)
            elif kind == "lcc":
                f = C.lcc_forward if fwd else C.lcc_inverse
                ox, oy = f(xv, yv, prm)
            else:
                f = C.ps_forward if fwd else C.ps_inverse
                ox, oy = f(xv, yv, prm)
            return pd.DataFrame({"x": ox, "y": oy})

        res = df.withColumn("_xy", _cftx(F.col(lon), F.col(lat)))
        return res.withColumn("x_dst", F.col("_xy.x")).withColumn(
            "y_dst", F.col("_xy.y")
        ).drop("_xy")

    if not HAVE_PYPROJ:
        raise NotImplementedError(
            "pyproj not available in this environment; closed-form paths "
            "cover 4326<->{3857, 326xx/327xx, 2154, 3413, 27700, 258xx}"
        )
    from pyspark.sql import types as T

    @F.pandas_udf(T.StructType([
        T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())
    ]))
    def _tx(xs: pd.Series, ys: pd.Series) -> pd.DataFrame:
        tr = pyproj.Transformer.from_crs(src_epsg, dst_epsg, always_xy=True)
        ox, oy = tr.transform(xs.to_numpy(), ys.to_numpy())
        return pd.DataFrame({"x": ox, "y": oy})

    res = df.withColumn("_xy", _tx(F.col(lon), F.col(lat)))
    return res.withColumn("x_dst", F.col("_xy.x")).withColumn(
        "y_dst", F.col("_xy.y")
    ).drop("_xy")
