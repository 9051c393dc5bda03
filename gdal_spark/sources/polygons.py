"""Polygon-side sources: the countries64 deterministic layer (FIXTURES F3).

A polygon DataFrame carries vertex arrays (not WKB) so the PIP stage can
go straight to numpy without a decode step:
  (poly_id bigint, xs array<double>, ys array<double>,
   minx,miny,maxx,maxy double)                -- envelope columns
Envelope columns make the exact-stage prefilter a JVM-side column
comparison (the analog of the reference's envelope pretest,
ogrlinearring.cpp:488-497), keeping Python out of the reject path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..kernels import cells
from . import derive

POLY_SCHEMA = (
    "poly_id bigint, xs array<double>, ys array<double>, "
    "minx double, miny double, maxx double, maxy double"
)


def countries64_pdf(skew_poly0: bool = False) -> pd.DataFrame:
    """Driver-side pandas build of the 64-polygon layer (64 rows — the
    canonical broadcast-side dimension). skew_poly0 inflates polygon 0
    to ~30% of the world (FIXTURES F3): it spreads over many more cell
    keys, but no single (cell, poly_id) key becomes hot."""
    rows = []
    for p in range(derive.NPOLY):
        ring = derive.polygon_ring_np(p)
        if skew_poly0 and p == 0:
            # scale about the ANALYTIC cell center (cx, cy) — a pure
            # function of p, so the DuckDB oracle reproduces the skewed
            # ring in closed form (derive.polygons_sql_cte + SKEW_*).
            prm = derive.polygon_params_np([0])
            cx, cy = float(prm["cx"][0]), float(prm["cy"][0])
            ring = np.column_stack([
                np.clip(cx + (ring[:, 0] - cx) * derive.SKEW_FACTOR,
                        -derive.SKEW_CLIP_X, derive.SKEW_CLIP_X),
                np.clip(cy + (ring[:, 1] - cy) * derive.SKEW_FACTOR,
                        -derive.SKEW_CLIP_Y, derive.SKEW_CLIP_Y),
            ])
        rows.append({
            "poly_id": p,
            "xs": ring[:, 0].tolist(),
            "ys": ring[:, 1].tolist(),
            "minx": float(ring[:, 0].min()),
            "miny": float(ring[:, 1].min()),
            "maxx": float(ring[:, 0].max()),
            "maxy": float(ring[:, 1].max()),
        })
    return pd.DataFrame(rows)


def countries64(spark: SparkSession, skew_poly0: bool = False) -> DataFrame:
    return spark.createDataFrame(countries64_pdf(skew_poly0), schema=POLY_SCHEMA)


def polygon_cover_pdf(pdf: pd.DataFrame, res: int) -> pd.DataFrame:
    """Explode each polygon to its covering cell set at resolution res
    (bbox cover — candidates refined by the exact PIP stage)."""
    out = []
    for _, r in pdf.iterrows():
        ring = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        for c in cells.polygon_cover(ring, res):
            out.append({"poly_id": r["poly_id"], "cell": int(c)})
    return pd.DataFrame(out)


def countries64_cover(spark: SparkSession, res: int, skew_poly0: bool = False) -> DataFrame:
    """(cell, poly_id) covering table + the polygon attribute columns."""
    pdf = countries64_pdf(skew_poly0)
    cov = polygon_cover_pdf(pdf, res)
    cov_df = spark.createDataFrame(cov, schema="poly_id bigint, cell bigint")
    return cov_df.join(spark.createDataFrame(pdf, schema=POLY_SCHEMA), "poly_id")


def countries64_dense_cover(spark: SparkSession, res: int, nv: int = 4096) -> DataFrame:
    """Bench fixture: the countries64 ellipse boundaries sampled at `nv`
    vertices per ring (~real-country ring sizes, vs the 64-vertex
    canonical layer). Exists to measure the exact-stage Arrow transfer:
    with rings-as-columns each surviving candidate row would carry
    2*8*nv bytes into the PIP UDF; the broadcast-dict path carries 8.
    Same join/plan shape as countries64_cover."""
    rows = []
    for p in range(derive.NPOLY):
        ring = scaled_ring_np(p, 1.0, nv_override=nv)
        rows.append({
            "poly_id": p,
            "xs": ring[:, 0].tolist(), "ys": ring[:, 1].tolist(),
            "minx": float(ring[:, 0].min()), "miny": float(ring[:, 1].min()),
            "maxx": float(ring[:, 0].max()), "maxy": float(ring[:, 1].max()),
        })
    pdf = pd.DataFrame(rows)
    cov = polygon_cover_pdf(pdf, res)
    cov_df = spark.createDataFrame(cov, schema="poly_id bigint, cell bigint")
    return cov_df.join(spark.createDataFrame(pdf, schema=POLY_SCHEMA), "poly_id")


# --------------------------------------------------- WKB multipolygon layer

# ring scale factors (shared float literals with the SQL oracle): each
# country becomes a MultiPolygon of
#   part 1: outer n-gon + a hole (the n-gon scaled by HOLE_S about the
#           center)
#   part 2: an island (4-gon diamond, scale ISLAND_S, phase 0) inside
#           the hole
HOLE_S = 1.0 / 3.0
ISLAND_S = 0.125

MP_SCHEMA = (
    "poly_id bigint, wkb binary, "
    "minx double, miny double, maxx double, maxy double"
)


def scaled_ring_np(p: int, scale: float, nv_override: int | None = None,
                   phase_override: float | None = None) -> np.ndarray:
    """Closed ring: cx + (rx*scale)*cos(phase + 2*pi*j/nv) — the exact
    op sequence the SQL oracle replays (multiply radius by the scale
    literal FIRST, then the trig product)."""
    prm = derive.polygon_params_np([p])
    nv = int(prm["nv"][0]) if nv_override is None else nv_override
    phase = float(prm["phase"][0]) if phase_override is None else phase_override
    j = np.arange(nv, dtype=np.float64)
    ang = phase + 2.0 * np.pi * j / nv
    xs = prm["cx"][0] + (prm["rx"][0] * scale) * np.cos(ang)
    ys = prm["cy"][0] + (prm["ry"][0] * scale) * np.sin(ang)
    ring = np.column_stack([xs, ys])
    return np.vstack([ring, ring[:1]])


def countries64_mp_pdf() -> pd.DataFrame:
    """64 WKB MultiPolygons with holes + islands (GeoParquet-shaped:
    geometry as a WKB binary column, envelope as plain columns)."""
    from ..kernels import wkb as wkb_mod

    rows = []
    for p in range(derive.NPOLY):
        outer = scaled_ring_np(p, 1.0)
        hole = scaled_ring_np(p, HOLE_S)
        island = scaled_ring_np(p, ISLAND_S, nv_override=4, phase_override=0.0)
        buf = wkb_mod.encode_multipolygon([[outer, hole], [island]])
        rows.append({
            "poly_id": p,
            "wkb": buf,
            "minx": float(outer[:, 0].min()),
            "miny": float(outer[:, 1].min()),
            "maxx": float(outer[:, 0].max()),
            "maxy": float(outer[:, 1].max()),
        })
    return pd.DataFrame(rows)


def countries64_mp_cover(spark: SparkSession, res: int) -> DataFrame:
    """(cell, poly_id, wkb, envelope) cover for the WKB layer — cell
    cover from the outer ring's bbox (holes/islands are interior)."""
    pdf = countries64_mp_pdf()
    cov = []
    for p in range(derive.NPOLY):
        ring = scaled_ring_np(p, 1.0)
        for c in cells.polygon_cover(ring, res):
            cov.append({"poly_id": p, "cell": int(c)})
    cov_df = spark.createDataFrame(pd.DataFrame(cov), schema="poly_id bigint, cell bigint")
    return cov_df.join(spark.createDataFrame(pdf, schema=MP_SCHEMA), "poly_id")
