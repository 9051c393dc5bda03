"""Cell-bucketed spatial join (point-in-polygon / intersects).

Plan shape (the Spark-native re-derivation of the reference's layer
spatial filter + layer-algebra joins):

  points ──cell assignment (codegen column math)──┐
                                                  ├─ equi-join on cell ──
  polygons ──cover explode (cell, poly attrs) ────┘
      → envelope prefilter  (JVM column compare — the bbox stage of
        ogrlayer.cpp:2253-2325 FilterGeometry)
      → exact ray-cast PIP  (the crossing rule of
        ogrlinearring.cpp:503-531, bit-identical to kernels.pip)

Join strategy, one of two (any other string raises ValueError):
- 'broadcast' (default): the polygon side is broadcast; NO shuffle of
  the point side at all — at 10^12 rows this is the only acceptable
  default.
- 'shuffle': no broadcast, for covers too big to collect; see "Ring
  transfer" below. No salting: on every fixture measured (PLANS.md
  "(cell, poly_id) key sizes") the largest cogroup key holds 0.2% of
  the candidates, so no key is hot.

Exact-stage engine of the 'broadcast' strategy, picked from the cover
itself (_bands_fit, _band_table):
- Band table (small rings, e.g. countries64, 5-12 vertices): the driver
  splits each cover row into latitude bands at the ring's vertex ys
  and keeps, per band, the few edges that straddle all of it. The
  band table is the broadcast side, and the exact test is
  `lo <= lat < hi` plus the XOR of at most _BAND_MAX_EDGES
  point-relative crossing terms — column arithmetic that runs inside
  the broadcast hash join's whole-stage-codegen method, with no
  Python and no straddle test (Raptor's scan-line idea: compute a
  polygon's crossings once, then join the data against them).
- Arrow y-band kernel (dense rings): when the band table would hold
  more than _BAND_ROWS_PER_CELL rows per cell key — counted before
  any band row is built — or a band needs more edge slots, or a ring
  coordinate is not finite within 1e150. Measured crossover in
  PLANS.md "band table vs Arrow".

Ring transfer: on the Arrow engine the polygon coordinate arrays are
NOT join columns — each candidate row carries only poly_id through
Arrow, and the exact-stage UDF resolves rings from a
sparkContext.broadcast({poly_id: ring ndarray}) dict that crosses to
each executor ONCE: 8 bytes/row regardless of polygon complexity.
When the cover is too big to broadcast at all (10^8 polygons —
exactly the regime where a driver dict is impossible), the 'shuffle'
strategy ships each ring ONCE PER (cell, poly_id) GROUP via a
cogrouped applyInPandas: candidates shuffle at 24 B + keep-cols per
row, rings ride the cogroup's other side one copy per group, and the
exact stage zips them executor-side.

The 3-stage short-circuit order (bbox reject → envelope accept → exact)
is preserved: the envelope compare happens before the exact test, and
the Arrow UDF re-checks the envelope before ray casting (cheap, keeps
parity with the reference's staged semantics).
"""

from __future__ import annotations

import weakref

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tiles as tile_fns
from ..kernels import mercator
from ..kernels.pip import closed_ring, point_in_ring


def _pip_dict_udf(rings_bc):
    """Exact stage, broadcast-dict form: the UDF receives only
    (x, y, poly_id) — 24 bytes/row through Arrow — and resolves ring
    geometry from the executor-local broadcast (ogrlinearring.cpp
    crossing rule)."""

    @F.pandas_udf(T.BooleanType())
    def pip(x: pd.Series, y: pd.Series, poly_id: pd.Series) -> pd.Series:
        rings = rings_bc.value
        out = np.zeros(len(x), dtype=bool)
        if len(x) == 0:
            return pd.Series(out)
        xv = x.to_numpy(dtype=np.float64)
        yv = y.to_numpy(dtype=np.float64)
        pid = poly_id.to_numpy()
        for p in pd.unique(pid):
            idx = np.nonzero(pid == p)[0]
            out[idx] = point_in_ring(xv[idx], yv[idx], rings[int(p)])
        return pd.Series(out)

    return pip


def assign_cell(df: DataFrame, lon: str = "lon", lat: str = "lat",
                res: int = 6, out: str = "cell") -> DataFrame:
    return df.withColumn(
        out, F.expr(tile_fns.cell(tile_fns.quote(lon), tile_fns.quote(lat), res)))


def _check_strategy(strategy: str) -> None:
    if strategy not in ("broadcast", "shuffle"):
        raise ValueError(
            f"unknown spatial join strategy {strategy!r}: "
            f"use 'broadcast' or 'shuffle'")


def _envelope(lon: str, lat: str) -> Column:
    """Envelope prefilter on a joined cover row (the bbox stage of
    FilterGeometry), edges inclusive."""
    x, y = tile_fns.quote(lon), tile_fns.quote(lat)
    return F.expr(f"{x} >= minx AND {x} <= maxx AND {y} >= miny AND {y} <= maxy")


@F.pandas_udf(T.StructType([
    T.StructField("lon", T.DoubleType()), T.StructField("lat", T.DoubleType())
]))
def _decode_point_udf(buf: pd.Series) -> pd.DataFrame:
    """Vectorized WKB point decode (kernels.wkb batch fast path: one
    frombuffer per Arrow batch — no per-row Python on the hot input)."""
    from ..kernels import wkb as wkb_mod

    xs, ys = wkb_mod.decode_points_batch(list(buf))
    return pd.DataFrame({"lon": xs, "lat": ys})


# The decode IS deterministic; the flag is an optimizer fence — without
# it Catalyst clones the UDF into the join's isnotnull pre-filter and
# every row pays the Python decode twice (seen in the executed plan).
_decode_point_udf = _decode_point_udf.asNondeterministic()


def decode_point_cols(df: DataFrame, geom: str = "geom") -> DataFrame:
    """GeoParquet-shaped point table (WKB binary geometry column,
    ogrgeometry.cpp:1515 importFromWkb) -> plain (lon, lat) columns."""
    out = df.withColumn("_ll", _decode_point_udf(F.col(geom)))
    return out.withColumn("lon", F.col("_ll.lon")).withColumn(
        "lat", F.col("_ll.lat")
    ).drop("_ll")


def _wkb_polys_broadcast(cover: DataFrame, wkb_col: str = "wkb"):
    """Decode every distinct polygon's WKB ONCE on the driver and ship
    the decoded ring sets as a broadcast {poly_id: [rings, ...]} —
    executors never see WKB bytes or re-decode per batch."""
    from ..kernels import wkb as wkb_mod

    rows = cover.select("poly_id", wkb_col).dropDuplicates(["poly_id"]).collect()
    polys = {
        int(r["poly_id"]): wkb_mod.decode_multipolygon(bytes(r[wkb_col]))
        for r in rows
    }
    return cover.sparkSession.sparkContext.broadcast(polys)


def _pip_wkb_dict_udf(polys_bc):
    """Exact WKB-multipolygon PIP, broadcast-dict form: (x, y, poly_id)
    through Arrow; decoded parts resolved executor-side."""
    from ..kernels.pip import point_in_polygon

    @F.pandas_udf(T.BooleanType())
    def pip(x: pd.Series, y: pd.Series, poly_id: pd.Series) -> pd.Series:
        polys_by_id = polys_bc.value
        out = np.zeros(len(x), dtype=bool)
        if len(x) == 0:
            return pd.Series(out)
        xv = x.to_numpy(dtype=np.float64)
        yv = y.to_numpy(dtype=np.float64)
        pid = poly_id.to_numpy()
        for p in pd.unique(pid):
            idx = np.nonzero(pid == p)[0]
            hit = np.zeros(idx.shape[0], dtype=bool)
            for rings in polys_by_id[int(p)]:
                hit |= point_in_polygon(xv[idx], yv[idx], rings)
            out[idx] = hit
        return pd.Series(out)

    return pip


def spatial_join_wkb(
    points: DataFrame,
    cover: DataFrame,
    *,
    res: int = 6,
    geom: str = "geom",
    strategy: str = "broadcast",
    keep_point_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-polygon join where BOTH sides carry WKB geometry
    (GeoParquet convention): points have a binary `geom` point column,
    cover has (cell, poly_id, wkb multipolygon, minx..maxy).

    Same 3-stage plan as spatial_join_points_in_polygons — decode point
    WKB (batch-vectorized), cell equi-join, JVM envelope prefilter,
    exact multi-ring crossing rule in one Arrow UDF. Supports polygons
    with holes and multi-part polygons (the shapes real country layers
    have, ogr/ogr_core.h:405-443 wkbMultiPolygon)."""
    _check_strategy(strategy)
    pts = assign_cell(decode_point_cols(points, geom), "lon", "lat", res)
    keep = keep_point_cols or [c for c in points.columns if c != geom]
    if strategy == "shuffle":
        # no-broadcast regime: WKB ships once per (cell, poly_id)
        # cogroup, decoded once per group executor-side — the shared
        # grouped plan with the multipolygon mask plugged in
        return _grouped_shuffle_pip(
            pts, cover, lon="lon", lat="lat", keep=keep,
            keep_poly=["poly_id"], geom_cols=("wkb",), mask_fn=_wkb_mask,
        )
    # broadcast-dict form: WKB decoded once on the driver, rings cross
    # to each executor once; candidates carry only poly_id
    pip_pred = _pip_wkb_dict_udf(_wkb_polys_broadcast(cover, "wkb"))(
        F.col("lon"), F.col("lat"), F.col("poly_id"))
    return (pts.join(F.broadcast(cover.drop("wkb")), "cell")
            .filter(_envelope("lon", "lat")).filter(pip_pred)
            .select(*keep, "poly_id"))


def _convex_clip(sub_x, sub_y, clip_x, clip_y):
    """Sutherland-Hodgman: clip subject polygon by a CONVEX clip
    polygon (the convex case of OGRLayer::Intersection's pairwise
    GEOS Intersection, ogrlayer.cpp:3345). Returns (xs, ys) closed
    ring or empty arrays."""
    import numpy as np

    pts = list(zip(sub_x, sub_y))
    if pts and pts[0] == pts[-1]:
        pts = pts[:-1]
    cp = list(zip(clip_x, clip_y))
    if cp and cp[0] == cp[-1]:
        cp = cp[:-1]
    # ensure CCW clip orientation for a consistent inside test
    area2 = sum(cp[i][0] * cp[(i + 1) % len(cp)][1] - cp[(i + 1) % len(cp)][0] * cp[i][1]
                for i in range(len(cp)))
    if area2 < 0:
        cp = cp[::-1]
    for i in range(len(cp)):
        a, b = cp[i], cp[(i + 1) % len(cp)]
        if not pts:
            break
        out = []
        ex, ey = b[0] - a[0], b[1] - a[1]

        def inside(p):
            return ex * (p[1] - a[1]) - ey * (p[0] - a[0]) >= 0.0

        def ix(p, q):
            dx, dy = q[0] - p[0], q[1] - p[1]
            denom = ex * dy - ey * dx
            t = (ex * (a[1] - p[1]) - ey * (a[0] - p[0])) / denom
            return (p[0] + t * dx, p[1] + t * dy)

        for j in range(len(pts)):
            cur, prev = pts[j], pts[j - 1]
            ci, pi = inside(cur), inside(prev)
            if ci:
                if not pi:
                    out.append(ix(prev, cur))
                out.append(cur)
            elif pi:
                out.append(ix(prev, cur))
        pts = out
    if len(pts) < 3:
        return np.array([]), np.array([])
    pts.append(pts[0])
    arr = np.array(pts, dtype=np.float64)
    return arr[:, 0], arr[:, 1]


def polygon_intersection(
    layer_a: DataFrame,
    layer_b: DataFrame,
    *,
    res: int = 5,
    id_a: str = "poly_id",
    id_b: str = "poly_id",
) -> DataFrame:
    """Layer-algebra Intersection for CONVEX polygon layers
    (ogrlayer.cpp:3345): candidate pairs via covering-cell equi-join
    (the spatial-filter pushdown skeleton, ogrlayer.cpp:3290-3322),
    then envelope reject, then exact Sutherland-Hodgman clip per pair
    in an Arrow-batched UDF. Emits one row per non-empty intersection:
    (id_a, id_b, xs, ys, area).

    Both layers carry (id, xs, ys, minx..maxy, cell) — produce with
    sources.polygons.countries64_cover-style explode. Non-convex
    inputs need a decomposition stage first (documented limitation;
    the reference delegates to GEOS)."""
    import pandas as pd
    from pyspark.sql import types as T

    a = layer_a.select(
        F.col(id_a).alias("id_a"), F.col("cell"),
        F.col("xs").alias("xs_a"), F.col("ys").alias("ys_a"),
        F.col("minx").alias("aminx"), F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"), F.col("maxy").alias("amaxy"),
    )
    b = layer_b.select(
        F.col(id_b).alias("id_b"), F.col("cell"),
        F.col("xs").alias("xs_b"), F.col("ys").alias("ys_b"),
        F.col("minx").alias("bminx"), F.col("miny").alias("bminy"),
        F.col("maxx").alias("bmaxx"), F.col("maxy").alias("bmaxy"),
    )
    cand = (
        a.join(b, "cell")
        .drop("cell")
        .dropDuplicates(["id_a", "id_b"])
        # envelope stage — JVM short-circuit (FilterGeometry bbox)
        .filter(
            (F.col("aminx") <= F.col("bmaxx")) & (F.col("amaxx") >= F.col("bminx"))
            & (F.col("aminy") <= F.col("bmaxy")) & (F.col("amaxy") >= F.col("bminy"))
        )
    )

    schema = T.StructType([
        T.StructField("xs", T.ArrayType(T.DoubleType())),
        T.StructField("ys", T.ArrayType(T.DoubleType())),
        T.StructField("area", T.DoubleType()),
    ])

    @F.pandas_udf(schema)
    def _clip(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.DataFrame:
        import numpy as np

        oxs, oys, areas = [], [], []
        for sx, sy, cx, cy in zip(xa, ya, xb, yb):
            rx, ry = _convex_clip(list(sx), list(sy), list(cx), list(cy))
            oxs.append(list(rx))
            oys.append(list(ry))
            if len(rx) >= 4:
                areas.append(0.5 * abs(float(np.sum(
                    rx[:-1] * ry[1:] - rx[1:] * ry[:-1]
                ))))
            else:
                areas.append(0.0)
        return pd.DataFrame({"xs": oxs, "ys": oys, "area": areas})

    out = cand.withColumn("_g", _clip("xs_a", "ys_a", "xs_b", "ys_b"))
    return (
        out.filter(F.col("_g.area") > 0.0)
        .select(
            "id_a", "id_b",
            F.col("_g.xs").alias("xs"), F.col("_g.ys").alias("ys"),
            F.col("_g.area").alias("area"),
        )
    )


def boolean_areas_general(
    layer_a: DataFrame,
    layer_b: DataFrame,
    *,
    res: int = 5,
    id_a: str = "poly_id",
    id_b: str = "poly_id",
) -> DataFrame:
    """Layer-algebra boolean AREAS for arbitrary SIMPLE polygons
    (non-convex included): Intersection / Union / SymDifference per
    intersecting pair (ogrlayer.cpp:3345/:3763/:4300 area semantics).

    Decomposition plan: ear-clip each polygon into triangles
    (kernels.triangulate, per-feature pandas UDF), explode triangle
    rows with covering cells, cell-join triangle pairs, SH-clip each
    convex pair, then aggregate clip areas per (id_a, id_b):
      aI = sum of triangle-pair intersection areas,
      aU = aA + aB - aI,  aSD = aA + aB - 2 aI.
    The triangle explode is the scale lever: work is proportional to
    actually-overlapping triangle pairs, found by the cell join.
    """
    import pandas as pd
    from pyspark.sql import types as T

    from ..kernels import cells as cell_mod
    from ..kernels.triangulate import ear_clip, triangle_area

    tri_schema = (
        "pid bigint, tri_id bigint, txs array<double>, tys array<double>, "
        "minx double, miny double, maxx double, maxy double, "
        "cell bigint, parea double"
    )

    def triangulate_pdf(pdf: pd.DataFrame, idc: str) -> pd.DataFrame:
        import numpy as np

        rows = []
        # zip over the raw column arrays, not iterrows(): Series-row
        # construction is per-row Python overhead on a potentially
        # large polygon layer (VERDICT r2 item 5)
        for pid, rxs, rys in zip(pdf[idc].to_numpy(), pdf["xs"], pdf["ys"]):
            tris = ear_clip(rxs, rys)
            parea = float(sum(triangle_area(t) for t in tris))
            # unique per (polygon, triangle): 32-bit shift leaves room
            # for 4G triangles per polygon and 2^31 polygon ids
            assert len(tris) < (1 << 32)
            pid = int(pid)
            for ti, t in enumerate(tris):
                txs = [t[0][0], t[1][0], t[2][0], t[0][0]]
                tys = [t[0][1], t[1][1], t[2][1], t[0][1]]
                ring = np.column_stack([txs, tys])
                for c in cell_mod.polygon_cover(ring, res):
                    rows.append({
                        "pid": pid, "tri_id": (pid << 32) + ti,
                        "txs": txs, "tys": tys,
                        "minx": min(txs), "miny": min(tys),
                        "maxx": max(txs), "maxy": max(tys),
                        "cell": int(c), "parea": parea,
                    })
        return pd.DataFrame(rows, columns=[
            "pid", "tri_id", "txs", "tys", "minx", "miny", "maxx", "maxy",
            "cell", "parea",
        ])

    def tri_layer(layer: DataFrame, idc: str) -> DataFrame:
        src = layer.select(idc, "xs", "ys").dropDuplicates([idc])
        return src.groupBy(idc).applyInPandas(
            lambda pdf: triangulate_pdf(pdf, idc), tri_schema
        )

    ta = tri_layer(layer_a, id_a).select(
        F.col("pid").alias("id_a"), F.col("tri_id").alias("tri_a"), F.col("cell"),
        F.col("txs").alias("xs_a"), F.col("tys").alias("ys_a"),
        F.col("minx").alias("aminx"), F.col("miny").alias("aminy"),
        F.col("maxx").alias("amaxx"), F.col("maxy").alias("amaxy"),
        F.col("parea").alias("area_a"),
    )
    tb = tri_layer(layer_b, id_b).select(
        F.col("pid").alias("id_b"), F.col("tri_id").alias("tri_b"), F.col("cell"),
        F.col("txs").alias("xs_b"), F.col("tys").alias("ys_b"),
        F.col("minx").alias("bminx"), F.col("miny").alias("bminy"),
        F.col("maxx").alias("bmaxx"), F.col("maxy").alias("bmaxy"),
        F.col("parea").alias("area_b"),
    )
    cand = (
        ta.join(tb, "cell")
        .drop("cell")
        .dropDuplicates(["tri_a", "tri_b"])  # int keys, not float arrays
        .filter(
            (F.col("aminx") <= F.col("bmaxx")) & (F.col("amaxx") >= F.col("bminx"))
            & (F.col("aminy") <= F.col("bmaxy")) & (F.col("amaxy") >= F.col("bminy"))
        )
    )

    @F.pandas_udf(T.DoubleType())
    def _clip_area(xa: pd.Series, ya: pd.Series, xb: pd.Series, yb: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for sx, sy, cx, cy in zip(xa, ya, xb, yb):
            rx, ry = _convex_clip(list(sx), list(sy), list(cx), list(cy))
            if len(rx) >= 4:
                out.append(0.5 * abs(float(np.sum(rx[:-1] * ry[1:] - rx[1:] * ry[:-1]))))
            else:
                out.append(0.0)
        return pd.Series(out)

    pairs = cand.withColumn("_ia", _clip_area("xs_a", "ys_a", "xs_b", "ys_b"))
    agg = pairs.groupBy("id_a", "id_b").agg(
        F.sum("_ia").alias("area_i"),
        F.first("area_a").alias("aa"),
        F.first("area_b").alias("ab"),
    )
    return (
        agg.filter(F.col("area_i") > 0.0)
        .select(
            "id_a", "id_b", "area_i",
            (F.col("aa") + F.col("ab") - F.col("area_i")).alias("area_u"),
            (F.col("aa") + F.col("ab") - 2 * F.col("area_i")).alias("area_sd"),
        )
    )


def _ring_mask(geom_pdf: "pd.DataFrame", xv: "np.ndarray",
               yv: "np.ndarray") -> "np.ndarray":
    """Exact mask for the rings-as-arrays geometry side (single ring
    per polygon, the countries64 layer shape)."""
    from ..kernels.pip import point_in_ring

    ring = np.column_stack([
        np.asarray(geom_pdf["xs"].iloc[0], dtype=np.float64),
        np.asarray(geom_pdf["ys"].iloc[0], dtype=np.float64),
    ])
    return point_in_ring(xv, yv, ring)


def _wkb_mask(geom_pdf: "pd.DataFrame", xv: "np.ndarray",
              yv: "np.ndarray") -> "np.ndarray":
    """Exact mask for the WKB geometry side: multipolygon with holes,
    decoded ONCE per (cell, poly_id) group."""
    from ..kernels import wkb as wkb_mod
    from ..kernels.pip import point_in_polygon

    polys = wkb_mod.decode_multipolygon(bytes(geom_pdf["wkb"].iloc[0]))
    hit = np.zeros(len(xv), dtype=bool)
    for rings in polys:
        hit |= point_in_polygon(xv, yv, rings)
    return hit


def _grouped_shuffle_pip(
    pts: DataFrame,
    cover: DataFrame,
    *,
    lon: str,
    lat: str,
    keep: list[str],
    keep_poly: list[str],
    geom_cols: tuple[str, ...] = ("xs", "ys"),
    mask_fn=_ring_mask,
) -> DataFrame:
    """Exact PIP stage for the no-broadcast regime: ship each polygon's
    geometry ONCE PER (cell, poly_id) GROUP instead of once per
    candidate row.

    Plan: cell equi-join against the geometry-free cover (cell,
    poly_id, envelope) -> JVM envelope short-circuit -> cogroup
    candidates with the geometry table on (cell, poly_id) -> one
    vectorized ray-cast per group via `mask_fn`
    (ogrlinearring.cpp:503-531 crossing rule, identical math to the
    broadcast-dict arm; the WKB layer plugs in _wkb_mask).

    Shuffle volume: candidates at 24 B + keep-cols each (the same
    24 B/row the broadcast-dict arm ships through Arrow), plus ONE
    geometry copy per (cell, poly_id) — vs 2*8*V bytes PER CANDIDATE
    if rings rode in each row. At 10^8 polygons (broadcast impossible)
    this is the path that runs; group size is bounded by cell
    granularity."""
    bad = set(keep_poly) & set(geom_cols)
    if bad:
        raise ValueError(
            f"the 'shuffle' strategy cannot carry geometry columns "
            f"{sorted(bad)} onto output rows — that is exactly the "
            f"per-candidate geometry amplification this path removes; "
            f"join the cover's geometry back on poly_id after the join")
    cov_lite = cover.select(*dict.fromkeys(_KEY_COLS + [
        c for c in keep_poly if c not in _KEY_COLS and c not in geom_cols]))
    carry = list(dict.fromkeys(
        keep + [lon, lat] + [c for c in keep_poly if c != "poly_id"]
    ))
    cand = (
        pts.join(cov_lite, "cell").filter(_envelope(lon, lat))
        .select(*carry, F.col("cell"), F.col("poly_id"))
    )
    # fresh names on the geometry side: cand's poly_id descends from
    # the same cover plan, and cogroup rejects the ambiguous attribute
    geoms = cover.select(
        F.col("cell").alias("r_cell"), F.col("poly_id").alias("r_poly_id"),
        *geom_cols,
    )
    out_cols = list(dict.fromkeys(keep + keep_poly))
    cand_schema = {f.name: f for f in cand.schema.fields}
    missing = [c for c in out_cols if c not in cand_schema]
    if missing:
        raise KeyError(
            f"grouped PIP output columns {missing} not present on the "
            f"candidate side (available: {sorted(cand_schema)})")
    out_schema = T.StructType([cand_schema[c] for c in out_cols])

    def exact(key, cand_pdf: pd.DataFrame, geom_pdf: pd.DataFrame) -> pd.DataFrame:
        if cand_pdf.empty or geom_pdf.empty:
            return cand_pdf.iloc[0:0].reindex(columns=out_cols)
        mask = mask_fn(
            geom_pdf,
            cand_pdf[lon].to_numpy(dtype=np.float64),
            cand_pdf[lat].to_numpy(dtype=np.float64),
        )
        return cand_pdf.loc[mask, out_cols]

    return (
        cand.groupBy("cell", "poly_id")
        .cogroup(geoms.groupBy("r_cell", "r_poly_id"))
        .applyInPandas(exact, out_schema)
    )


# ------------------------------------------------ band-table exact stage

_KEY_COLS = ["cell", "poly_id", "minx", "miny", "maxx", "maxy"]
# Engine choice for the broadcast arm. Band rows per cell key is the
# work each probe row does in the hash join; past this mean the Arrow
# y-band kernel wins (measured crossover: PLANS.md "band table vs
# Arrow").
_BAND_ROWS_PER_CELL = 24.0
# Edge slots per band row. Each slot adds ~400 bytes of bytecode to the
# fused join method, and HotSpot does not compile methods over 8,000
# bytes; tests/test_spatial_join_bands.py pins the join_tile plan under it.
_BAND_MAX_EDGES = 4
# Degrees added around each cell: the Spark cell expression and the
# numpy inverse below round differently. A wider range only adds
# breakpoints, never drops a point.
_CELL_MARGIN = 1e-7
# Ring coordinates at most this large keep every band term finite
# (products stay < 1e301), so no term is NaN, which Spark orders
# above every number; other rings take the Arrow kernel.
_BAND_COORD_LIMIT = 1e150


def _collect_cover(cover: DataFrame, res: int, extra: list[str]):
    """Collect the polygon layer on the driver: ({poly_id: (n, 2)
    float64 ring}, keys), keys a pandas frame of every cover row's
    (cell, poly_id, minx..maxy, *extra), duplicate rows kept.

    One job, no shuffle: only the row whose cell holds the ring's
    first vertex carries the ring, so each ring crosses about once; a
    polygon with no such row (the vertex rounds into a neighbour cell)
    costs one filtered job more. The test is SQL text, the cell
    expression of `assign_cell`: built from Columns it costs hundreds
    of py4j calls per join. This is the dimension side of a broadcast
    join — collecting it is as legitimate as F.broadcast(cover)."""
    first = "cell = " + tile_fns.cell("try_element_at(xs, 1)", "try_element_at(ys, 1)", res)
    pdf = cover.selectExpr(*map(tile_fns.quote, _KEY_COLS + extra),
                           f"CASE WHEN {first} THEN xs END AS _xs",
                           f"CASE WHEN {first} THEN ys END AS _ys").toPandas()
    has = pdf["_xs"].notna().to_numpy()
    rings = dict(zip(pdf["poly_id"][has], zip(pdf["_xs"][has], pdf["_ys"][has])))
    keys = pdf.drop(columns=["_xs", "_ys"])
    missing = sorted(set(keys["poly_id"]) - set(rings))
    if missing:
        rings.update((r[0], r[1:]) for r in (
            cover.filter(F.col("poly_id").isin(missing))
            .select("poly_id", "xs", "ys").dropDuplicates(["poly_id"]).collect()))
    return {int(p): np.column_stack([np.asarray(xs, dtype=np.float64),
                                     np.asarray(ys, dtype=np.float64)])
            for p, (xs, ys) in rings.items()}, keys


def _cell_bounds(cell: np.ndarray, res: int):
    """(lon floor, lat floor, lat ceiling) of each cell id at `res`,
    widened by _CELL_MARGIN. Grid-border cells are open outward:
    `tiles.cell` clamps every point beyond the grid into them."""
    lim = (1 << res) - 1
    code = np.asarray(cell, dtype=np.int64) - (1 << (2 * res))
    tx, ty = code >> res, code & lim
    x0, y0, _, y1 = mercator.tile_bounds(tx, lim - ty, res)
    lat0, lon0 = mercator.meters_to_lat_lon(x0, y0)
    lat1, _ = mercator.meters_to_lat_lon(x0, y1)
    return (np.where(tx <= 0, -np.inf, lon0 - _CELL_MARGIN),
            np.where(ty >= lim, -np.inf, lat0 - _CELL_MARGIN),
            np.where(ty <= 0, np.inf, lat1 + _CELL_MARGIN))


def _bands_fit(keys: pd.DataFrame, rings: dict, res: int) -> bool:
    """Engine choice for the broadcast arm, made before any band row
    is built: True when every ring is finite within _BAND_COORD_LIMIT
    and the band table would hold at most _BAND_ROWS_PER_CELL rows per
    cell key. A cover row gets one band per ring vertex y inside its
    cell's latitude range, plus one — counted with searchsorted."""
    n = 0
    lat0, lat1 = _cell_bounds(keys["cell"].to_numpy(), res)[1:]
    for pid, idx in keys.groupby("poly_id").indices.items():
        ring = rings[int(pid)]
        if ring.size and not (np.abs(ring) <= _BAND_COORD_LIMIT).all():
            return False
        ys = np.unique(ring[:, 1])
        n += len(idx) + int(np.maximum(
            np.searchsorted(ys, lat1[idx]) - np.searchsorted(ys, lat0[idx], "right"),
            0).sum())
    return n <= _BAND_ROWS_PER_CELL * max(1, keys["cell"].nunique())


def _band_table(keys: pd.DataFrame, rings: dict, res: int):
    """The exact PIP stage as a table: (pdf, k), or None when a band
    needs more than _BAND_MAX_EDGES edge slots.

    Each cover row (cell, poly_id) splits into latitude bands
    [_band_lo, _band_hi) at the ring vertex ys inside the cell's
    latitude range, clipped to the ring's and the cover row's
    envelopes. A band keeps the edges that straddle all of it and do
    not lie entirely left of the cell; bands with no edge are dropped
    (parity 0). For a point in the band every kept edge passes the
    straddle test of kernels.pip.point_in_ring and every dropped edge
    adds no crossing — a left-of-cell edge has both relative x < 0, so
    its intersection is <= 0 in floating point too, underflow
    included — so the point-relative crossing terms decide it
    bit-identically to the kernel. Short bands are padded with the
    edge (xp, hi) -> (xp, lo), xp just left of every point the row can
    see: it straddles the band and, being left, never counts.
    _band_minx/_band_maxx carry the envelope test in longitude."""
    lon0, lat0, lat1 = _cell_bounds(keys["cell"].to_numpy(), res)
    minx, miny, maxx, maxy = keys[_KEY_COLS[2:]].to_numpy(dtype=np.float64).T
    parts, n = [], 0  # per polygon: (cover row, lo, hi, x0, x1, xb, band, slot, edges)
    for pid, idx in keys.groupby("poly_id").indices.items():
        ring = closed_ring(rings[int(pid)])
        if ring is None:
            continue
        e = np.column_stack([ring[1:], ring[:-1]])  # x1 y1 x2 y2
        elo = np.minimum(e[:, 1], e[:, 3])
        ehi = np.maximum(e[:, 1], e[:, 3])
        ys = np.unique(ring[:, 1])
        rmin, rmax = ring.min(axis=0), ring.max(axis=0)
        # np.maximum/np.minimum propagate NaN, so a NaN envelope drops the row
        lo = np.maximum(np.maximum(lat0[idx], rmin[1]), miny[idx])
        hi = np.minimum(np.minimum(lat1[idx], rmax[1]),
                        np.nextafter(maxy[idx], np.inf))
        x0 = np.maximum(rmin[0], minx[idx])
        x1 = np.minimum(rmax[0], maxx[idx])
        ok = (lo < hi) & (x0 <= x1)
        idx, lo, hi, x0, x1 = idx[ok], lo[ok], hi[ok], x0[ok], x1[ok]
        xb = np.maximum(lon0[idx], x0)
        s = np.searchsorted(ys, lo, "right")  # first vertex y above lo
        nb = np.searchsorted(ys, hi, "left") - s + 1
        row = np.repeat(np.arange(len(idx)), nb)
        j = np.arange(len(row)) - np.repeat(np.cumsum(nb) - nb, nb)
        y = ys[np.minimum(s[row] + j, len(ys) - 1)]
        blo = np.where(j == 0, lo[row], ys[np.maximum(s[row] + j - 1, 0)])
        bhi = np.where(j == nb[row] - 1, hi[row], y)
        m = ((elo <= blo[:, None]) & (ehi >= bhi[:, None])
             & (np.maximum(e[:, 0], e[:, 2]) >= xb[row][:, None]))
        has = m.any(axis=1)
        band, edge = np.nonzero(m[has])
        slot = np.arange(len(band)) - np.searchsorted(band, band)
        row = row[has]
        parts.append((idx[row], blo[has], bhi[has], x0[row], x1[row],
                      xb[row], band + n, slot, e[edge]))
        n += len(row)
    src, lo, hi, x0, x1, xb, band, slot, edges = (
        [np.concatenate(c) for c in zip(*parts)] if parts else [np.zeros(0)] * 9)
    k = int(slot.max()) + 1 if len(slot) else 1
    if k > _BAND_MAX_EDGES:
        return None
    xp = np.nextafter(xb, -np.inf)
    slots = np.repeat(np.column_stack([xp, hi, xp, lo])[:, None, :], k, axis=1)
    slots[band.astype(np.int64), slot.astype(np.int64)] = edges.reshape(-1, 4)
    pdf = (keys.iloc[src.astype(np.int64)].drop(columns=_KEY_COLS[2:])
           .reset_index(drop=True))
    for c, v in zip(("_band_lo", "_band_hi", "_band_minx", "_band_maxx"),
                    (lo, hi, x0, x1)):
        pdf[c] = v
    for j in range(k):
        for q, c in enumerate(("x1", "y1", "x2", "y2")):
            pdf[f"_b{j}{c}"] = slots[:, j, q]
    return pdf, k


def _band_condition(lon: str, lat: str, k: int) -> Column:
    """The band table's exact test on columns `lon`, `lat`:
    `_band_lo <= lat < _band_hi`, the longitude envelope, then the XOR
    of k crossing terms in the point-relative form of
    kernels.pip.point_in_ring. The band bounds come first: a division
    is safe only for a point inside the band."""
    x, y = tile_fns.quote(lon), tile_fns.quote(lat)
    odd = None
    for j in range(k):
        x1, y1, x2, y2 = (f"(_b{j}{c} - {v})" for c, v in
                          (("x1", x), ("y1", y), ("x2", x), ("y2", y)))
        cross = f"((({x1} * {y2}) - ({x2} * {y1})) / ({y2} - {y1}) > {tile_fns.dbl(0.0)})"
        odd = cross if odd is None else f"({odd} != {cross})"
    return F.expr(f"{y} >= _band_lo AND {y} < _band_hi"
                  f" AND {x} >= _band_minx AND {x} <= _band_maxx AND {odd}")


# {cover DataFrame: {(res, extra poly cols): _broadcast_side result}}.
# A DataFrame's plan never changes, so its collected side is reused for
# as long as the caller holds the cover object.
_SIDES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _broadcast_side(cover: DataFrame, res: int, extra: list[str]):
    """The broadcast arm's polygon side, built once per cover object and
    (res, extra): (band table DataFrame, k, None), or (None, None, ring
    dict broadcast) for the Arrow engine. Collected once and pinned: to
    pick up changed polygon data, pass a fresh cover DataFrame."""
    memo = _SIDES.setdefault(cover, {})
    key = (res, tuple(extra))
    if key not in memo:
        rings, keys = _collect_cover(cover, res, extra)
        bands = _band_table(keys, rings, res) if _bands_fit(keys, rings, res) else None
        if bands is None:
            memo[key] = None, None, cover.sparkSession.sparkContext.broadcast(rings)
        else:
            pdf, k = bands
            fields = {f.name: f for f in cover.schema.fields}
            schema = T.StructType(
                [fields[c] for c in _KEY_COLS[:2] + extra]
                + [T.StructField(c, T.DoubleType(), False)
                   for c in pdf.columns[2 + len(extra):]])
            memo[key] = cover.sparkSession.createDataFrame(pdf, schema), k, None
    return memo[key]


def spatial_join_points_in_polygons(
    points: DataFrame,
    cover: DataFrame,
    *,
    res: int = 6,
    lon: str = "lon",
    lat: str = "lat",
    strategy: str = "broadcast",
    keep_point_cols: list[str] | None = None,
    keep_poly_cols: list[str] | None = None,
) -> DataFrame:
    """points ⋈ polygons with PIP predicate.

    cover: (cell bigint, poly_id bigint, xs, ys, minx..maxy) — from
    sources.polygons.countries64_cover or any polygon layer exploded to
    covering cells at the same `res`.
    Returns the point columns + poly_id for every (point, polygon) pair
    whose point lies inside the polygon.

    The 'broadcast' arm collects the cover once per cover object, `res`
    and `keep_poly_cols`, and reuses it in later joins with the same
    object; pass a fresh cover DataFrame to pick up changed polygons.
    """
    _check_strategy(strategy)
    pts = assign_cell(points, lon, lat, res)
    keep = keep_point_cols or [c for c in points.columns]
    keep_poly = keep_poly_cols or ["poly_id"]

    if strategy == "shuffle":
        # no-broadcast regime: grouped-shuffle exact stage (ring ships
        # once per (cell, poly_id) group — see _grouped_shuffle_pip)
        return _grouped_shuffle_pip(
            pts, cover, lon=lon, lat=lat, keep=keep, keep_poly=keep_poly)

    extra = [c for c in keep_poly if c not in _KEY_COLS]
    table, k, rings_bc = _broadcast_side(cover, res, extra)
    if table is not None:
        # band-table form: the exact test is column arithmetic in the
        # broadcast hash join's codegen stage, no Python
        return (pts.join(F.broadcast(table), "cell")
                .filter(_band_condition(lon, lat, k))
                .select(*keep, *keep_poly))
    # broadcast-dict form: candidates carry only poly_id into the Arrow
    # exact stage (after the JVM envelope short circuit); rings cross
    # to each executor once
    pip_pred = _pip_dict_udf(rings_bc)(F.col(lon), F.col(lat), F.col("poly_id"))
    return (pts.join(F.broadcast(cover.drop("xs", "ys")), "cell")
            .filter(_envelope(lon, lat)).filter(pip_pred)
            .select(*keep, *keep_poly))
