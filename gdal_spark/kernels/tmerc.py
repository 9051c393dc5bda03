"""Transverse Mercator (UTM) forward/inverse — closed-form Krüger series.

The reference reprojects through PROJ (OGRCoordinateTransformation,
ogr/ogrct.cpp:2254 batch Transform; its own ogr2ogr benchmark case is
EPSG:32631 -> 4326, autotest/benchmark/test_ogr2ogr.py:61-66). PROJ's
default UTM implementation is `etmerc` — the extended (6th-order)
Krüger series from Karney 2011, "Transverse Mercator with an accuracy
of a few nanometers" (arXiv:1002.1417). This module re-derives that
published series from scratch for WGS84:

- forward: (lon, lat) -> (easting, northing) for a UTM zone
- inverse: (easting, northing) -> (lon, lat)

Accuracy of the order-6 series is sub-nanometer inside a zone — far
below the mm rounding used by the query contract.

Cross-engine exactness strategy: every coefficient is computed ONCE in
Python and embedded as the identical float literal in both the numpy
kernel and the generated DuckDB SQL, and all hyperbolic functions are
expanded to exp/log forms (sinh x = (e^x - e^-x)/2, ...) so both
engines execute the same IEEE op sequence; residual libm ulp
differences are absorbed by the mm rounding at the contract boundary.

Everything here is vectorized numpy over coordinate arrays — the exact
shape of the reference's batch Transform API.
"""
from __future__ import annotations

import numpy as np

# WGS84 (the only ellipsoid the engine ships; others are a parameter away)
A_E = 6378137.0
F_INV = 298.257223563
FLAT = 1.0 / F_INV
N3 = FLAT / (2.0 - FLAT)  # third flattening n
E2 = FLAT * (2.0 - FLAT)  # eccentricity^2
ECC = float(np.sqrt(E2))
K0 = 0.9996
FALSE_E = 500000.0
FALSE_N_SOUTH = 10000000.0

# rectifying radius A-hat = a/(1+n) * (1 + n^2/4 + n^4/64 + n^6/256)
AHAT = A_E / (1.0 + N3) * (1.0 + N3**2 / 4.0 + N3**4 / 64.0 + N3**6 / 256.0)

# Krüger series coefficients to n^6 (Karney 2011 eqs. 35-36).
_n = N3
ALPHA = (
    _n / 2 - 2 * _n**2 / 3 + 5 * _n**3 / 16 + 41 * _n**4 / 180
    - 127 * _n**5 / 288 + 7891 * _n**6 / 37800,
    13 * _n**2 / 48 - 3 * _n**3 / 5 + 557 * _n**4 / 1440 + 281 * _n**5 / 630
    - 1983433 * _n**6 / 1935360,
    61 * _n**3 / 240 - 103 * _n**4 / 140 + 15061 * _n**5 / 26880
    + 167603 * _n**6 / 181440,
    49561 * _n**4 / 161280 - 179 * _n**5 / 168 + 6601661 * _n**6 / 7257600,
    34729 * _n**5 / 80640 - 3418889 * _n**6 / 1995840,
    212378941 * _n**6 / 319334400,
)
BETA = (
    _n / 2 - 2 * _n**2 / 3 + 37 * _n**3 / 96 - _n**4 / 360
    - 81 * _n**5 / 512 + 96199 * _n**6 / 604800,
    _n**2 / 48 + _n**3 / 15 - 437 * _n**4 / 1440 + 46 * _n**5 / 105
    - 1118711 * _n**6 / 3870720,
    17 * _n**3 / 480 - 37 * _n**4 / 840 - 209 * _n**5 / 4480
    + 5569 * _n**6 / 90720,
    4397 * _n**4 / 161280 - 11 * _n**5 / 504 - 830251 * _n**6 / 7257600,
    4583 * _n**5 / 161280 - 108847 * _n**6 / 3991680,
    20648693 * _n**6 / 638668800,
)

DEG = np.pi / 180.0


def zone_lon0(zone: int) -> float:
    """Central meridian of a UTM zone in degrees (zone 31 -> 3E)."""
    return float(zone * 6 - 183)


# exp/log hyperbolics — the EXACT formulas the SQL twin uses
def _sinh(x):
    return (np.exp(x) - np.exp(-x)) / 2.0


def _cosh(x):
    return (np.exp(x) + np.exp(-x)) / 2.0


def _asinh(x):
    return np.log(x + np.sqrt(x * x + 1.0))


def _atanh(x):
    return 0.5 * np.log((1.0 + x) / (1.0 - x))


def utm_forward(lon_deg, lat_deg, zone: int):
    """(lon, lat) degrees -> (easting, northing) meters, northern
    formula (southern adds the false northing at the caller).
    Vectorized; sub-nm series accuracy inside the zone."""
    lon = np.asarray(lon_deg, dtype=np.float64)
    lat = np.asarray(lat_deg, dtype=np.float64)
    lam = (lon - zone_lon0(zone)) * DEG
    phi = lat * DEG
    sphi = np.sin(phi)
    # isometric latitude -> conformal tau' = sinh(psi)
    psi = _asinh(np.tan(phi)) - ECC * _atanh(ECC * sphi)
    tp = _sinh(psi)
    clam = np.cos(lam)
    xi_p = np.arctan2(tp, clam)
    eta_p = _asinh(np.sin(lam) / np.sqrt(tp * tp + clam * clam))
    xi = xi_p.copy()
    eta = eta_p.copy()
    for j, aj in enumerate(ALPHA, start=1):
        xi = xi + aj * np.sin(2 * j * xi_p) * _cosh(2 * j * eta_p)
        eta = eta + aj * np.cos(2 * j * xi_p) * _sinh(2 * j * eta_p)
    easting = FALSE_E + K0 * AHAT * eta
    northing = K0 * AHAT * xi
    return easting, northing


def utm_inverse(easting, northing, zone: int):
    """(easting, northing) meters (northern) -> (lon, lat) degrees.
    Fixed 3 Newton steps invert the conformal latitude — the identical
    unrolled sequence the SQL oracle runs."""
    e = np.asarray(easting, dtype=np.float64)
    n = np.asarray(northing, dtype=np.float64)
    xi = n / (K0 * AHAT)
    eta = (e - FALSE_E) / (K0 * AHAT)
    xi_p = xi.copy()
    eta_p = eta.copy()
    for j, bj in enumerate(BETA, start=1):
        xi_p = xi_p - bj * np.sin(2 * j * xi) * _cosh(2 * j * eta)
        eta_p = eta_p - bj * np.cos(2 * j * xi) * _sinh(2 * j * eta)
    sh_eta = _sinh(eta_p)
    cxi = np.cos(xi_p)
    tp = np.sin(xi_p) / np.sqrt(sh_eta * sh_eta + cxi * cxi)
    lam = np.arctan2(sh_eta, cxi)
    # Newton: solve tau'(tau) = tp for tau (Karney 2011 eq. 19-21)
    tau = tp.copy()
    for _ in range(3):
        t1 = np.sqrt(1.0 + tau * tau)
        sig = _sinh(ECC * _atanh(ECC * tau / t1))
        fv = tau * np.sqrt(1.0 + sig * sig) - sig * t1 - tp
        dfv = (np.sqrt((1.0 + sig * sig) * (1.0 + tau * tau)) - sig * tau) \
            * (1.0 - E2) * t1 / (1.0 + (1.0 - E2) * tau * tau)
        tau = tau - fv / dfv
    lat = np.arctan(tau) / DEG
    lon = zone_lon0(zone) + lam / DEG
    return lon, lat


# --------------------------------------------------------------- SQL twin

def _r(x: float) -> str:
    """Full-precision float literal shared by kernel and SQL."""
    return repr(float(x))


def sinh_sql(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2.0)"


def cosh_sql(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2.0)"


def asinh_sql(x: str) -> str:
    return f"ln(({x}) + sqrt(({x})*({x}) + 1.0))"


def atanh_sql(x: str) -> str:
    return f"(0.5 * ln((1.0 + ({x})) / (1.0 - ({x}))))"


def fwd_series_terms(xi_p: str = "xi_p", eta_p: str = "eta_p") -> tuple[str, str]:
    """(xi_terms, eta_terms) of the forward Krüger series as SQL over
    the named conformal coordinates — shared by the DuckDB CTE twin
    and the Spark pure-codegen column path."""
    xi_terms = " + ".join(
        f"{_r(aj)} * sin({2 * j}.0 * {xi_p}) * {cosh_sql(f'{2 * j}.0 * {eta_p}')}"
        for j, aj in enumerate(ALPHA, start=1)
    )
    eta_terms = " + ".join(
        f"{_r(aj)} * cos({2 * j}.0 * {xi_p}) * {sinh_sql(f'{2 * j}.0 * {eta_p}')}"
        for j, aj in enumerate(ALPHA, start=1)
    )
    return xi_terms, eta_terms


def inv_series_terms(xi: str = "xi", eta: str = "eta") -> tuple[str, str]:
    """(xi_terms, eta_terms) of the inverse series (BETA coefficients)."""
    xi_terms = " + ".join(
        f"{_r(bj)} * sin({2 * j}.0 * {xi}) * {cosh_sql(f'{2 * j}.0 * {eta}')}"
        for j, bj in enumerate(BETA, start=1)
    )
    eta_terms = " + ".join(
        f"{_r(bj)} * cos({2 * j}.0 * {xi}) * {sinh_sql(f'{2 * j}.0 * {eta}')}"
        for j, bj in enumerate(BETA, start=1)
    )
    return xi_terms, eta_terms


def forward_sql_ctes(src: str, zone: int, *, lon: str = "lon",
                     lat: str = "lat", keep: str = "id") -> str:
    """CTE chain computing (easting, northing) from `src`(keep, lon,
    lat) with the byte-level-identical series. Final CTE is `utm_fwd`
    with columns (keep, easting, northing)."""
    lon0 = _r(zone_lon0(zone))
    deg = _r(DEG)
    ecc = _r(ECC)
    ka = _r(K0 * AHAT)
    xi_terms, eta_terms = fwd_series_terms()
    return f"""
_t0 AS (
  SELECT {keep}, (({lon}) - {lon0}) * {deg} AS lam, ({lat}) * {deg} AS phi
  FROM {src}
),
_t1 AS (
  SELECT {keep}, lam,
         {asinh_sql('tan(phi)')} - {ecc} * {atanh_sql(f'{ecc} * sin(phi)')} AS psi
  FROM _t0
),
_t2 AS (
  SELECT {keep}, lam, {sinh_sql('psi')} AS tp, cos(lam) AS clam FROM _t1
),
_t3 AS (
  SELECT {keep},
         atan2(tp, clam) AS xi_p,
         {asinh_sql('sin(lam) / sqrt(tp*tp + clam*clam)')} AS eta_p
  FROM _t2
),
utm_fwd AS (
  SELECT {keep},
         {_r(FALSE_E)} + {ka} * (eta_p + {eta_terms}) AS easting,
         {ka} * (xi_p + {xi_terms}) AS northing
  FROM _t3
)"""


def inverse_sql_ctes(src: str, zone: int, *, easting: str = "easting",
                     northing: str = "northing", keep: str = "id") -> str:
    """CTE chain: (easting, northing) -> (lon, lat), final CTE
    `utm_inv`(keep, lon, lat). Mirrors utm_inverse exactly, Newton
    steps unrolled."""
    lon0 = _r(zone_lon0(zone))
    deg = _r(DEG)
    ecc = _r(ECC)
    e2 = _r(E2)
    ka = _r(K0 * AHAT)
    xi_terms, eta_terms = inv_series_terms()

    def step(i: int) -> str:
        t = f"tau{i}"
        prev = "_i3" if i == 0 else f"_nwo{i - 1}"
        return f"""
_sg{i} AS (
  SELECT *, sqrt(1.0 + {t}*{t}) AS t1_{i},
         {sinh_sql(f"{ecc} * " + atanh_sql(f"{ecc} * {t} / sqrt(1.0 + {t}*{t})"))} AS sig{i}
  FROM {prev}
),
_nwo{i} AS (
  SELECT *, {t} - (({t} * sqrt(1.0 + sig{i}*sig{i}) - sig{i} * t1_{i} - tp)
    / ((sqrt((1.0 + sig{i}*sig{i}) * (1.0 + {t}*{t})) - sig{i} * {t})
       * (1.0 - {e2}) * t1_{i} / (1.0 + (1.0 - {e2}) * {t}*{t}))) AS tau{i + 1}
  FROM _sg{i}
),"""

    newton_chain = "".join(step(i) for i in range(3))

    return f"""
_i0 AS (
  SELECT {keep}, ({northing}) / {ka} AS xi, (({easting}) - {_r(FALSE_E)}) / {ka} AS eta
  FROM {src}
),
_i1 AS (
  SELECT {keep}, xi - ({xi_terms}) AS xi_p, eta - ({eta_terms}) AS eta_p FROM _i0
),
_i2 AS (
  SELECT {keep}, {sinh_sql('eta_p')} AS sh_eta, cos(xi_p) AS cxi, sin(xi_p) AS sxi
  FROM _i1
),
_i3 AS (
  SELECT {keep}, sxi / sqrt(sh_eta*sh_eta + cxi*cxi) AS tp,
         atan2(sh_eta, cxi) AS lam,
         sxi / sqrt(sh_eta*sh_eta + cxi*cxi) AS tau0
  FROM _i2
),
{newton_chain}
utm_inv AS (
  SELECT {keep}, {lon0} + lam / {deg} AS lon, atan(tau3) / {deg} AS lat
  FROM _nwo2
)"""
