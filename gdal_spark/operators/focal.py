"""Focal / neighborhood raster operators — bilinear sampling,
proximity, footprint, viewshed, IDW gridding.

The reference computes these as windowed scans over one in-memory
raster (apps/gdalalg_raster_slope.cpp, alg/gdal_interpolateatpoint.cpp,
alg/gdalgrid.cpp). Distributed, a 2-D stencil needs a **halo
exchange**, NOT Window.partitionBy (1-D only, SURVEY §2.5). The 3x3
terrain ops (slope, aspect, hillshade, TPI/TRI/roughness) run on the
tile-array model in operators.tile_raster: one shuffle of tile edge
strips, then a numpy stencil per tile. OFFSETS_3X3 below is their
neighbour order, which the DuckDB oracles read.

Bilinear sampling follows gcore/gdal_interpolateatpoint.cpp; IDW
follows the GGA_InverseDistanceToAPower semantics of
alg/gdalgrid.cpp:91-199 with the cell-bucketed neighbor gather
replacing the quadtree.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

OFFSETS_3X3 = [(dx, dy) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]


def sample_bilinear(band: DataFrame, points: DataFrame, *, width: int, height: int,
                    x_col: str = "px", y_col: str = "py",
                    id_col: str = "sid") -> DataFrame:
    """Sample the band at fractional pixel coords by bilinear
    interpolation (gcore/gdal_interpolateatpoint.cpp semantics: corner
    weights from the fractional offsets of the 4 surrounding pixel
    centers; coords clamped inside the grid). Point -> 4 corner joins —
    the Raptor-style raster-x-vector join. Returns (sid, value)."""
    # clamp sample coords into [0.5, dim-0.5]; cap the low corner at
    # dim-2 so the 2x2 stencil stays inside and the topmost/rightmost
    # center samples with weight exactly 1 (no epsilon bleed from the
    # 2^31-scale neighbor values)
    xs = F.least(F.greatest(F.col(x_col), F.lit(0.5)), F.lit(width - 0.5))
    ys = F.least(F.greatest(F.col(y_col), F.lit(0.5)), F.lit(height - 0.5))
    p = points.select(
        F.col(id_col),
        (xs - 0.5).alias("_fx"),
        (ys - 0.5).alias("_fy"),
    ).select(
        id_col, "_fx", "_fy",
        F.least(F.floor("_fx"), F.lit(width - 2)).cast("bigint").alias("_x0"),
        F.least(F.floor("_fy"), F.lit(height - 2)).cast("bigint").alias("_y0"),
    ).select(
        id_col, "_x0", "_y0",
        (F.col("_fx") - F.col("_x0")).alias("_wx"),
        (F.col("_fy") - F.col("_y0")).alias("_wy"),
    )
    b = band.select("gx", "gy", "value")
    out = p
    for cx, cy, name in ((0, 0, "_v00"), (1, 0, "_v10"), (0, 1, "_v01"), (1, 1, "_v11")):
        out = out.join(
            b.select(
                (F.col("gx") - cx).alias("_x0"), (F.col("gy") - cy).alias("_y0"),
                F.col("value").alias(name),
            ),
            ["_x0", "_y0"],
        )
    val = (
        F.col("_v00") * (1 - F.col("_wx")) * (1 - F.col("_wy"))
        + F.col("_v10") * F.col("_wx") * (1 - F.col("_wy"))
        + F.col("_v01") * (1 - F.col("_wx")) * F.col("_wy")
        + F.col("_v11") * F.col("_wx") * F.col("_wy")
    )
    return out.select(id_col, val.alias("value"))


def proximity(band: DataFrame, *, target=None, max_dist: int,
              targets: list | None = None,
              fixed_buf_val=None) -> DataFrame:
    """Proximity map (alg/gdalproximity.cpp): for every pixel, squared
    euclidean distance to the nearest TARGET pixel within `max_dist`
    pixels; pixels with no target in range are absent (the reference
    writes nodata). `target` is the single-value form; `targets` the
    VALUES=v1,v2,... option (nearest pixel of ANY listed value);
    `fixed_buf_val` the FIXED_BUF_VAL option — every in-range pixel
    reports that constant instead of its distance (buffer mask mode).

    The reference's two-pass forward/backward chamfer scan is inherently
    sequential; the distributed form is a bounded-fanout join: each
    target pixel explodes to the (2*max_dist+1)^2 neighborhood it can
    serve, then a min-reduce per pixel. Exact euclidean (not chamfer
    approximation), integer arithmetic only. Cost: O(targets *
    max_dist^2) — the right trade at scale when targets are sparse;
    for dense targets invert the roles (explode non-targets).
    Returns (gx, gy, d2) with d2 = min squared distance (0 on targets).
    """
    spark = band.sparkSession
    r = max_dist
    offs = (
        spark.range(-r, r + 1).select(F.col("id").alias("_dx"))
        .crossJoin(spark.range(-r, r + 1).select(F.col("id").alias("_dy")))
        .filter(F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy") <= r * r)
    )
    vals = list(targets) if targets is not None else [target]
    tgt = band.filter(F.col("value").isin(vals)).select(
        F.col("gx").alias("_tx"), F.col("gy").alias("_ty")
    )
    served = (
        tgt.crossJoin(F.broadcast(offs))
        .select(
            (F.col("_tx") + F.col("_dx")).alias("gx"),
            (F.col("_ty") + F.col("_dy")).alias("gy"),
            (F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")).alias("_d2"),
        )
        .groupBy("gx", "gy")
        .agg(F.min("_d2").alias("d2"))
    )
    out = band.select("gx", "gy").join(served, ["gx", "gy"])
    if fixed_buf_val is not None:
        return out.select("gx", "gy", F.lit(fixed_buf_val).alias("d2"))
    return out.select("gx", "gy", "d2")


def footprint(pixels: DataFrame, *, width: int, valid, tile: int = 64) -> DataFrame:
    """Footprint (apps/gdal_footprint_lib.cpp): polygonize the
    valid-data mask and report each valid component's bounding box +
    pixel count — the mask->polygon-outline specialization of
    polygonize (SURVEY §2.10). Returns (label, minx, miny, maxx, maxy,
    n_pixels)."""
    from .raster import label_pixels

    mask = pixels.withColumn(
        "value", F.when(F.col("value") == valid, F.lit(1)).otherwise(F.lit(0))
    )
    lab = label_pixels(mask, width=width, tile=tile).filter(F.col("value") == 1)
    return lab.groupBy("comp").agg(
        F.min("px").alias("minx"), F.min("py").alias("miny"),
        F.max("px").alias("maxx"), F.max("py").alias("maxy"),
        F.count("*").alias("n_pixels"),
    ).select(
        F.col("comp").alias("label"), "minx", "miny", "maxx", "maxy", "n_pixels"
    )


def footprint_rings(pixels: DataFrame, *, width: int, valid,
                    tile: int = 64) -> DataFrame:
    """Footprint RING-OUTLINE geometry (apps/gdal_footprint_lib.cpp
    emits polygons, not bboxes): per valid-mask component, the traced
    pixel-edge boundary rings — outer ring plus hole rings.

    Plan: CCL labels (raster.label_pixels), then per-pixel boundary
    edges from 4 shifted self-joins (an edge exists where the
    neighbor is absent or in another component), then ONE groupBy per
    component traces the directed edge cycles in an Arrow-batched
    applyInPandas and merges collinear runs. Edge orientation keeps
    the component interior on a fixed side, so outer rings and holes
    come out as separate cycles directly.

    Returns (label, ring_idx, nv, xs, ys, area) — ring closed, area =
    |shoelace|/2 in pixel units."""
    import numpy as np
    import pandas as pd

    from .raster import label_pixels

    mask = pixels.withColumn(
        "value", F.when(F.col("value") == valid, F.lit(1)).otherwise(F.lit(0))
    )
    lab = label_pixels(mask, width=width, tile=tile).filter(F.col("value") == 1) \
        .select("px", "py", "comp")
    nbr = lab.select(F.col("px").alias("nx"), F.col("py").alias("ny"),
                     F.col("comp").alias("ncomp"))

    edges = None
    # (dx, dy, edge endpoints when the (dx,dy) neighbor is not ours)
    for dx, dy, x1, y1, x2, y2 in (
        (0, -1, "px", "py", "px + 1", "py"),            # top: L -> R
        (1, 0, "px + 1", "py", "px + 1", "py + 1"),     # right: T -> B
        (0, 1, "px + 1", "py + 1", "px", "py + 1"),     # bottom: R -> L
        (-1, 0, "px", "py + 1", "px", "py"),            # left: B -> T
    ):
        e = (
            lab.join(
                nbr,
                (F.col("nx") == F.col("px") + dx)
                & (F.col("ny") == F.col("py") + dy)
                & (F.col("ncomp") == F.col("comp")),
                "left_anti",
            )
            .select(
                "comp",
                F.expr(x1).alias("x1"), F.expr(y1).alias("y1"),
                F.expr(x2).alias("x2"), F.expr(y2).alias("y2"),
            )
        )
        edges = e if edges is None else edges.unionByName(e)

    schema = ("label bigint, ring_idx int, nv int, "
              "xs array<double>, ys array<double>, area double")

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        comp = int(pdf["comp"].iloc[0])
        # successor map: start vertex -> list of (end vertex)
        succ: dict = {}
        for x1, y1, x2, y2 in zip(pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]):
            succ.setdefault((int(x1), int(y1)), []).append((int(x2), int(y2)))
        rows = []
        ring_idx = 0
        while succ:
            start = min(succ.keys())
            ring = [start]
            prev = None
            cur = start
            while True:
                outs = succ[cur]
                if len(outs) == 1 or prev is None:
                    nxt = outs.pop()
                else:
                    # diagonal-touch vertex: prefer the sharpest LEFT
                    # turn relative to the incoming direction, keeping
                    # each cycle maximally tight (GDAL's polygonizer
                    # separates diagonal-touching parts the same way)
                    din = (cur[0] - prev[0], cur[1] - prev[1])
                    best = None
                    for cand in outs:
                        dout = (cand[0] - cur[0], cand[1] - cur[1])
                        crossz = din[0] * dout[1] - din[1] * dout[0]
                        key = (crossz, -(din[0] * dout[0] + din[1] * dout[1]))
                        if best is None or key < best[0]:
                            best = (key, cand)
                    nxt = best[1]
                    outs.remove(nxt)
                if not outs:
                    del succ[cur]
                if nxt == start:
                    break
                ring.append(nxt)
                prev, cur = cur, nxt
            # merge collinear runs (axis-aligned: drop middle points)
            out = []
            n = len(ring)
            for i in range(n):
                a, b, c = ring[i - 1], ring[i], ring[(i + 1) % n]
                if (b[0] - a[0]) * (c[1] - b[1]) - (b[1] - a[1]) * (c[0] - b[0]) != 0:
                    out.append(b)
            arr = np.array(out + [out[0]], dtype=np.float64)
            area = 0.5 * abs(float(np.sum(
                arr[:-1, 0] * arr[1:, 1] - arr[1:, 0] * arr[:-1, 1])))
            rows.append({
                "label": comp, "ring_idx": ring_idx, "nv": len(out),
                "xs": arr[:, 0].tolist(), "ys": arr[:, 1].tolist(),
                "area": area,
            })
            ring_idx += 1
        return pd.DataFrame(rows, columns=["label", "ring_idx", "nv",
                                           "xs", "ys", "area"])

    return edges.groupBy("comp").applyInPandas(lambda p: trace(p), schema)


def viewshed(band: DataFrame, *, width: int, ox: int, oy: int,
             obs_height: float = 2.0, height: int | None = None,
             z_base: float | None = None,
             n_sectors: int = 32, curve_coeff: float = 0.0,
             cell_size: float = 1.0,
             earth_diameter: float = 12756274.0,
             mode: str = "NORMAL") -> DataFrame:
    """Viewshed (alg/viewshed/viewshed.cpp semantics, uniform-ray
    sampling): pixel p is visible from the observer iff no intermediate
    sample along the observer->p ray subtends an equal-or-greater
    elevation slope. Slopes compare as (z - z_obs) / t with t the
    fraction along the ray — no trig/sqrt, exact IEEE arithmetic,
    cross-engine reproducible; intermediate heights are bilinear
    samples at K = chebyshev(p, obs) uniform steps.

    SCALE SHAPE (r3, replacing the O(W^3)-row explode): pixels and the
    terrain they look over are partitioned into `n_sectors` angular
    sectors around the observer (a ray stays inside its pixel's
    sector, so each sector's wedge — padded by the bilinear corner
    reach, plus a shared near-observer disk — contains every terrain
    value its pixels need). One applyInPandas per sector generates the
    ray samples IN NUMPY: Spark row count is O(W^2 * sector overlap)
    instead of O(W^3), with the identical per-sample doubles (same op
    order as the SQL oracle). Sector assignment only routes work; it
    cannot affect values. Returns (gx, gy, visible).

    curve_coeff > 0 enables earth-curvature/refraction correction
    (gdal_viewshed -cc, alg/viewshed: adjusted z = z - coeff * d^2 /
    earth_diameter with d the ground distance = pixel distance *
    cell_size; GDAL's default coeff is 0.85714 = 1 - 1/7 refraction).
    Applied to every intermediate sample (at its own d) and to the
    target pixel; coeff = 0 reproduces the uncorrected contract
    bit-for-bit (the correction branch is skipped entirely).

    mode (gdal_viewshed -om): 'NORMAL' -> (gx, gy, visible);
    'GROUND' -> additional ground_req column = height that would have
    to be ADDED at the pixel to become visible (0 when visible);
    'DEM' -> dem_min column = minimum absolute (adjusted) elevation
    at the pixel that is visible. Both derive from the same max ray
    slope; chebyshev<2 pixels are always visible (req 0, dem_min =
    own raw z). Non-NORMAL outputs are clamped at max(0, .) like the
    reference (viewshed_executor.cpp:184-186)."""
    import math

    import pandas as pd

    height = height if height is not None else width
    spark = band.sparkSession
    if z_base is None:
        # 1-row driver probe; batch callers (cumulative_viewshed)
        # prefetch all observer heights in ONE pass and pass z_base
        z0row = band.filter((F.col("gx") == ox) & (F.col("gy") == oy)).collect()
        z_base = float(z0row[0]["value"])
    z_obs = z_base + obs_height
    W, H, S = width, height, int(n_sectors)
    # near-observer disk radius and wedge pad: a sample at radius
    # >= R0 - 3 has bilinear corners within euclidean ~2.2, i.e.
    # within atan(2.2 / (R0 - 3)) of its ray's angle
    R0 = 16
    PAD = math.atan2(2.2, R0 - 3.0)
    half = math.pi / S

    pix = band.select(
        (F.atan2(F.col("gy") - oy, F.col("gx") - ox) + F.lit(math.pi))
        .alias("_ang"),
        F.lit(True).alias("is_pix"),
        "gx", "gy", F.col("value").cast("double").alias("z"),
    ).withColumn(
        "sector",
        F.least(F.floor(F.col("_ang") / F.lit(2.0 * math.pi / S)).cast("int"),
                F.lit(S - 1)),
    ).drop("_ang")

    sec = spark.range(S).select(F.col("id").cast("int").alias("sector"))
    ter0 = band.crossJoin(F.broadcast(sec)).select(
        "sector", F.lit(False).alias("is_pix"),
        "gx", "gy", F.col("value").cast("double").alias("z"),
        (F.atan2(F.col("gy") - oy, F.col("gx") - ox) + F.lit(math.pi))
        .alias("_ang"),
        ((F.col("gx") - ox) * (F.col("gx") - ox)
         + (F.col("gy") - oy) * (F.col("gy") - oy)).alias("_r2"),
    )
    center = (F.col("sector").cast("double") + F.lit(0.5)) * F.lit(2.0 * math.pi / S)
    # positive mod: Spark's % keeps the dividend sign
    _d = F.col("_ang") - center + F.lit(math.pi)
    two_pi = F.lit(2.0 * math.pi)
    wrap = ((_d % two_pi + two_pi) % two_pi) - F.lit(math.pi)
    ter = ter0.filter(
        (F.col("_r2") <= F.lit(R0 * R0)) | (F.abs(wrap) <= F.lit(half + PAD))
    ).drop("_ang", "_r2")

    both = pix.unionByName(ter)

    out_schema = "gx bigint, gy bigint, visible boolean"
    if mode == "GROUND":
        out_schema += ", ground_req double"
    elif mode == "DEM":
        out_schema += ", dem_min double"

    kern = _sector_sweep_kernel(
        W, H, curve_coeff=curve_coeff, cell_size=cell_size,
        earth_diameter=earth_diameter, mode=mode)
    return both.groupBy("sector").applyInPandas(
        lambda p: kern(p, ox, oy, z_obs), out_schema)


def _sector_sweep_kernel(W: int, H: int, *, curve_coeff: float,
                         cell_size: float, earth_diameter: float,
                         mode: str):
    """The per-(observer, sector) numpy sweep, factored out of
    viewshed() so cumulative_viewshed can run it keyed by observer in
    ONE applyInPandas (observer rows, not per-observer subplans).
    Returns run(pdf, ox, oy, z_obs) -> DataFrame(gx, gy, visible[,
    ground_req | dem_min]); per-sample math identical to the inline r3
    kernel (same op order as the SQL oracle)."""

    def run(pdf: "pd.DataFrame", ox: int, oy: int,
            z_obs: float) -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        t_m = ~pdf["is_pix"].to_numpy()
        tgx = pdf["gx"].to_numpy()[t_m].astype(np.int64)
        tgy = pdf["gy"].to_numpy()[t_m].astype(np.int64)
        tz = pdf["z"].to_numpy()[t_m]
        # dense patch over the sector's terrain bbox: direct gathers
        # beat per-sample searchsorted by ~an order of magnitude
        x_lo, y_lo = int(tgx.min()), int(tgy.min())
        patch = np.full((int(tgy.max()) - y_lo + 1, int(tgx.max()) - x_lo + 1),
                        np.nan)
        patch[tgy - y_lo, tgx - x_lo] = tz

        def lookup(ix, iy):
            return patch[iy - y_lo, ix - x_lo]

        p_m = pdf["is_pix"].to_numpy()
        gx = pdf["gx"].to_numpy()[p_m].astype(np.int64)
        gy = pdf["gy"].to_numpy()[p_m].astype(np.int64)
        zp = pdf["z"].to_numpy()[p_m]
        n = np.maximum(np.abs(gx - ox), np.abs(gy - oy))
        vis = np.ones(len(gx), dtype=bool)
        far = n >= 2
        if far.any():
            fgx, fgy, fn = gx[far], gy[far], n[far]
            reps = (fn - 1).astype(np.int64)
            csum = np.cumsum(reps)
            max_s_all = np.full(len(fgx), -np.inf)
            # CHUNK pixels so the flattened sample arrays (~15 of
            # them) stay bounded: without this a 1024^2 sector holds
            # O(W^3/S) samples at once (~4 GB/task in temporaries) and
            # concurrent tasks thrash the allocator — measured 2-4x
            # wall-clock swings. Per-pixel math is unchanged, so the
            # output is bit-identical to the unchunked form.
            CHUNK = 4_000_000
            start = 0
            while start < len(fgx):
                base = int(csum[start - 1]) if start else 0
                end = int(np.searchsorted(csum, base + CHUNK, side="left")) + 1
                end = min(max(end, start + 1), len(fgx))
                cgx, cgy, cn = fgx[start:end], fgy[start:end], fn[start:end]
                creps = reps[start:end]
                # samples k = 1..n-1 per pixel, flattened
                pid = np.repeat(np.arange(len(cgx)), creps)
                k = np.arange(creps.sum()) - np.repeat(
                    np.cumsum(creps) - creps, creps) + 1
                t = k.astype(np.float64) / cn[pid].astype(np.float64)
                sx = float(ox) + (cgx[pid] - ox) * t + 0.5
                sy = float(oy) + (cgy[pid] - oy) * t + 0.5
                # bilinear with the sample_bilinear clamp/corner rule
                fx = np.minimum(np.maximum(sx, 0.5), W - 0.5) - 0.5
                fy = np.minimum(np.maximum(sy, 0.5), H - 0.5) - 0.5
                x0 = np.minimum(np.floor(fx).astype(np.int64), W - 2)
                y0 = np.minimum(np.floor(fy).astype(np.int64), H - 2)
                wx = fx - x0
                wy = fy - y0
                # bounds guard: an out-of-bbox gather would wrap silently
                assert (x0.min() >= x_lo and y0.min() >= y_lo
                        and x0.max() + 1 - x_lo < patch.shape[1]
                        and y0.max() + 1 - y_lo < patch.shape[0]), \
                    "viewshed sector wedge pad too small: corner outside bbox"
                zs = (lookup(x0, y0) * (1 - wx) * (1 - wy)
                      + lookup(x0 + 1, y0) * wx * (1 - wy)
                      + lookup(x0, y0 + 1) * (1 - wx) * wy
                      + lookup(x0 + 1, y0 + 1) * wx * wy)
                assert not np.isnan(zs).any(), \
                    "viewshed sector wedge pad too small: missing terrain"
                if curve_coeff > 0.0:
                    d2 = ((cgx[pid] - ox).astype(np.float64) ** 2
                          + (cgy[pid] - oy).astype(np.float64) ** 2) \
                        * (t * t) * (cell_size * cell_size)
                    zs = zs - curve_coeff * d2 / earth_diameter
                slope_s = (zs - z_obs) / t
                max_s = np.full(len(cgx), -np.inf)
                np.maximum.at(max_s, pid, slope_s)
                max_s_all[start:end] = max_s
                start = end
            zp_far = zp[far]
            drop = 0.0
            if curve_coeff > 0.0:
                dp2 = ((fgx - ox).astype(np.float64) ** 2
                       + (fgy - oy).astype(np.float64) ** 2) \
                    * (cell_size * cell_size)
                drop = curve_coeff * dp2 / earth_diameter
                zp_far = zp_far - drop
            vis[far] = max_s_all < (zp_far - z_obs)
            if mode != "NORMAL":
                # minimum raw elevation at the pixel that clears every
                # ray sample: z_obs + max slope (+ the curvature drop
                # folded back into raw units)
                dem_far = z_obs + max_s_all + drop
        out = {"gx": gx, "gy": gy, "visible": vis}
        if mode == "GROUND":
            req = np.zeros(len(gx))
            if far.any():
                req[far] = np.maximum(0.0, dem_far - zp[far])
            out["ground_req"] = req
        elif mode == "DEM":
            # near pixels (chebyshev < 2) report their own raw z: the
            # reference's setOutput(result, cell, dfZ=cell) leaves the
            # DEM base value untouched (viewshed_executor.cpp:406,443)
            demv = zp.astype(np.float64).copy()
            if far.any():
                demv[far] = dem_far
            # non-NORMAL outputs clamp at 0 (viewshed_executor.cpp:184-186)
            out["dem_min"] = np.maximum(demv, 0.0)
        return pd.DataFrame(out)

    return run


def cumulative_viewshed(band: DataFrame, *, width: int, spacing: int,
                        obs_height: float = 2.0,
                        height: int | None = None,
                        n_sectors: int = 32) -> DataFrame:
    """Cumulative viewshed (alg/viewshed/cumulative.cpp): observers on
    a regular grid — every `spacing` pixels in x and y starting at 0
    (cumulative.cpp:66-67) — each a NORMAL viewshed with visibleVal
    forced to 1 (cumulative.cpp:48), summed per pixel (combiner.cpp:46)
    and scaled to 8 bits as floor((255 / max) * v) over the global max
    (scaleOutput, cumulative.cpp:200-213; max == 0 would return the
    zeros unscaled, which cannot happen since every observer sees its
    own pixel).

    Distributed shape (r5, replacing the per-observer subplan union):
    observers are ROWS, not plans. The grid observers come straight
    from the band (one filter — nodata holes never become observers,
    like the reference skipping unreadable cells), broadcast onto the
    band twice: once to sector-route every (pixel, observer) pair and
    once to carve each observer's per-sector terrain wedge. ONE
    applyInPandas keyed by (ox, oy, z_obs, sector) then runs the same
    numpy sweep kernel per group, and one (gx, gy) groupBy sums
    visibility. Driver plan-build cost is O(1) in observer count — at
    the reference's 100k-observer regime (cumulative.cpp:66) the old
    unionByName-of-subplans form would build (and schedule) 100k
    separate plan arms. Returns (gx, gy, value) with value in 0..255."""
    import math

    height = height if height is not None else width
    W, H, S = width, height, int(n_sectors)
    spark = band.sparkSession

    obs = band.filter(
        (F.col("gx") % spacing == 0) & (F.col("gy") % spacing == 0)
        & (F.col("gx") < width) & (F.col("gy") < height)
    ).select(
        F.col("gx").alias("ox"), F.col("gy").alias("oy"),
        (F.col("value").cast("double") + F.lit(float(obs_height)))
        .alias("z_obs"),
    )
    if not obs.limit(1).count():
        raise ValueError(
            "cumulative_viewshed: no grid observer has an elevation "
            f"value (spacing={spacing}, raster {width}x{height})")

    # same wedge geometry as viewshed()
    R0 = 16
    PAD = math.atan2(2.2, R0 - 3.0)
    half = math.pi / S
    ang = (F.atan2(F.col("gy") - F.col("oy"), F.col("gx") - F.col("ox"))
           + F.lit(math.pi))

    pix = band.crossJoin(F.broadcast(obs)).select(
        "ox", "oy", "z_obs",
        F.least(F.floor(ang / F.lit(2.0 * math.pi / S)).cast("int"),
                F.lit(S - 1)).alias("sector"),
        F.lit(True).alias("is_pix"),
        "gx", "gy", F.col("value").cast("double").alias("z"),
    )

    sec = spark.range(S).select(F.col("id").cast("int").alias("sector"))
    ter0 = band.crossJoin(F.broadcast(obs)).crossJoin(F.broadcast(sec)).select(
        "ox", "oy", "z_obs", "sector", F.lit(False).alias("is_pix"),
        "gx", "gy", F.col("value").cast("double").alias("z"),
        ang.alias("_ang"),
        ((F.col("gx") - F.col("ox")) * (F.col("gx") - F.col("ox"))
         + (F.col("gy") - F.col("oy")) * (F.col("gy") - F.col("oy")))
        .alias("_r2"),
    )
    center = (F.col("sector").cast("double") + F.lit(0.5)) * F.lit(2.0 * math.pi / S)
    _d = F.col("_ang") - center + F.lit(math.pi)
    two_pi = F.lit(2.0 * math.pi)
    wrap = ((_d % two_pi + two_pi) % two_pi) - F.lit(math.pi)
    ter = ter0.filter(
        (F.col("_r2") <= F.lit(R0 * R0)) | (F.abs(wrap) <= F.lit(half + PAD))
    ).drop("_ang", "_r2")

    both = pix.unionByName(ter)
    kern = _sector_sweep_kernel(
        W, H, curve_coeff=0.0, cell_size=1.0,
        earth_diameter=12756274.0, mode="NORMAL")

    def run_keyed(key, pdf):
        return kern(pdf, int(key[0]), int(key[1]), float(key[2]))

    vis = both.groupBy("ox", "oy", "z_obs", "sector").applyInPandas(
        run_keyed, "gx bigint, gy bigint, visible boolean")
    summed = vis.groupBy("gx", "gy").agg(
        F.sum(F.when(F.col("visible"), F.lit(1)).otherwise(F.lit(0))
              .cast("long")).alias("v"))
    mx = summed.agg(F.max("v").alias("mx"))
    return summed.crossJoin(F.broadcast(mx)).select(
        "gx", "gy",
        F.floor((F.lit(255.0) / F.col("mx")) * F.col("v"))
        .cast("long").alias("value"),
    )


def cubic_weight_sql(t_expr: str, tap: int) -> str:
    """Cubic-convolution weight (a = -0.5, the GDALResampleAlg cubic
    kernel, alg/gdalresamplingkernels.h CubicKernel) for tap offset
    `tap` in {-1, 0, 1, 2}: distance d = |tap - t|. Emits an SQL string
    valid in BOTH Spark SQL and DuckDB, with a fixed op order so the
    doubles are bit-identical."""
    if tap in (0, 1):
        # |d| <= 1: (a+2)d^3 - (a+3)d^2 + 1  ->  1.5 d^3 - 2.5 d^2 + 1
        d = f"abs(({t_expr}) - {tap}.0)"
        return f"((1.5 * ({d}) * ({d}) * ({d})) - (2.5 * ({d}) * ({d})) + 1.0)"
    # 1 < |d| < 2: a d^3 - 5a d^2 + 8a d - 4a -> -0.5 d^3 + 2.5 d^2 - 4 d + 2
    d = f"abs(({t_expr}) - {tap}.0)"
    return (
        f"((-0.5 * ({d}) * ({d}) * ({d})) + (2.5 * ({d}) * ({d})) "
        f"- (4.0 * ({d})) + 2.0)"
    )


def cubicspline_weight_sql(t_expr: str, tap: int) -> str:
    """B-spline weight (GRA_CubicSpline, alg/gdalwarper.h:37-67) for
    tap offset in {-1, 0, 1, 2}; emits SQL valid in Spark SQL AND
    DuckDB with the op order of tile_raster's numpy twin."""
    d = f"abs(({t_expr}) - {tap}.0)"
    if tap in (0, 1):
        # |d| <= 1: (4 - 6 d^2 + 3 d^3) / 6
        return (f"((((3.0 * ({d}) * ({d}) * ({d})) - (6.0 * ({d}) * ({d}))) "
                f"+ 4.0) / 6.0)")
    # 1 < |d| < 2: (2 - d)^3 / 6
    return (f"(((2.0 - ({d})) * (2.0 - ({d})) * (2.0 - ({d}))) / 6.0)")


LANCZOS_A = 3  # GDAL's lanczos radius (alg/gdalresamplingkernels.h)

# Lanczos-3 sampling lives in operators.tile_raster.sample_lanczos_tiles:
# halo-3 padded tiles + vectorized numpy taps (one shuffle, no driver
# materialization). The former driver-broadcast implementation here was
# a scale anti-pattern and was removed.


def grid_metrics(points: DataFrame, *, cell: float, radius: float,
                 x_col: str = "x", y_col: str = "y",
                 v_col: str = "v") -> DataFrame:
    """gdal_grid DATA METRICS (alg/gdalgrid.h:50-88: GGA_Minimum /
    Maximum / Range / Count / AverageDistance, plus GGA_Nearest
    interpolation) over a circular search ellipse — one operator, one
    bounded-fanout explode + groupBy per node:

      vmin / vmax / vrange / cnt over points with d <= radius,
      avg_dist = mean euclidean node->point distance (ordered fold by
      point id: sqrt is correctly-rounded IEEE, so the value is
      engine-exact), nearest_v = value of the (d2, pid)-min point.

    (GGA_AverageDistancePts — mean distance between point PAIRS — is
    the one member not implemented; it is quadratic per node and rare.)
    Nodes with no point in radius are absent (nodata)."""
    reach = int(radius / cell) + 1
    spark = points.sparkSession
    offs = (
        spark.range(-reach, reach + 1).select(F.col("id").alias("_di"))
        .crossJoin(spark.range(-reach, reach + 1).select(F.col("id").alias("_dj")))
    )
    pts = points.select(
        F.col("pid"), F.col(x_col).alias("_x"), F.col(y_col).alias("_y"),
        F.col(v_col).alias("_v"),
        F.floor(F.col(x_col) / cell).cast("bigint").alias("_ci"),
        F.floor(F.col(y_col) / cell).cast("bigint").alias("_cj"),
    )
    cand = (
        pts.crossJoin(F.broadcast(offs))
        .select(
            "pid", "_x", "_y", "_v",
            (F.col("_ci") + F.col("_di")).alias("i"),
            (F.col("_cj") + F.col("_dj")).alias("j"),
        )
        .withColumn("_dx", F.col("i") * cell - F.col("_x"))
        .withColumn("_dy", F.col("j") * cell - F.col("_y"))
        .withColumn("_d2", F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy"))
        .filter(F.col("_d2") <= F.lit(radius * radius))
    )
    agg = cand.groupBy("i", "j").agg(
        F.count("*").alias("cnt"),
        F.min("_v").alias("vmin"),
        F.max("_v").alias("vmax"),
        # lexicographic struct min = (d2, pid)-nearest, JVM-side
        F.min(F.struct("_d2", "pid", "_v")).alias("_near"),
        F.sort_array(F.collect_list(F.struct("pid", "_d2"))).alias("_pts"),
    )
    avg = F.expr("aggregate(_pts, 0D, (a, s) -> a + sqrt(s._d2))") / F.col("cnt")
    return agg.select(
        "i", "j", "cnt", "vmin", "vmax",
        (F.col("vmax") - F.col("vmin")).alias("vrange"),
        avg.alias("avg_dist"),
        F.col("_near._v").alias("nearest_v"),
    )


def grid_linear(spark: SparkSession, points_xyv, nodes: DataFrame,
                *, x_col: str = "x", y_col: str = "y") -> DataFrame:
    """gdal_grid GGA_Linear (alg/gdalgrid.cpp linear via
    GDALTriangulation, alg/delaunay.c): Delaunay-triangulate the
    scattered points (driver-side, like the reference — the point set
    is the SMALL side), broadcast the triangle table, then each grid
    node finds its containing triangle by a bbox prefilter +
    barycentric test and interpolates linearly. Nodes outside the
    convex hull are absent (nodata).

    points_xyv: list/array of (x, y, v); nodes: DataFrame with
    (i, j, x_col, y_col). All node-side math is JVM columns."""
    import numpy as np

    from ..kernels import delaunay

    arr = np.asarray(points_xyv, dtype=np.float64)
    tris = delaunay.triangulate(arr[:, :2])
    rows = []
    for tid, (a, b, c) in enumerate(tris):
        ax, ay, va = arr[a]
        bx, by, vb = arr[b]
        cx, cy, vc = arr[c]
        rows.append((tid, float(ax), float(ay), float(bx), float(by),
                     float(cx), float(cy), float(va), float(vb), float(vc),
                     float(min(ax, bx, cx)), float(min(ay, by, cy)),
                     float(max(ax, bx, cx)), float(max(ay, by, cy))))
    tdf = spark.createDataFrame(
        rows,
        "tid bigint, ax double, ay double, bx double, by double, "
        "cx double, cy double, va double, vb double, vc double, "
        "tminx double, tminy double, tmaxx double, tmaxy double",
    )
    px, py = F.col(x_col), F.col(y_col)
    cand = nodes.join(
        F.broadcast(tdf),
        (px >= F.col("tminx")) & (px <= F.col("tmaxx"))
        & (py >= F.col("tminy")) & (py <= F.col("tmaxy")),
    )
    d = ((F.col("by") - F.col("cy")) * (F.col("ax") - F.col("cx"))
         + (F.col("cx") - F.col("bx")) * (F.col("ay") - F.col("cy")))
    l1 = (((F.col("by") - F.col("cy")) * (px - F.col("cx"))
           + (F.col("cx") - F.col("bx")) * (py - F.col("cy")))) / d
    l2 = (((F.col("cy") - F.col("ay")) * (px - F.col("cx"))
           + (F.col("ax") - F.col("cx")) * (py - F.col("cy")))) / d
    l3 = F.lit(1.0) - l1 - l2
    hit = cand.withColumn("_l1", l1).withColumn("_l2", l2).withColumn("_l3", l3) \
        .filter((F.col("_l1") >= 0) & (F.col("_l2") >= 0) & (F.col("_l3") >= 0))
    # a node on a shared edge matches both triangles — keep the lowest
    # tid (values agree up to roundoff by linearity across the edge)
    w = Window.partitionBy("i", "j").orderBy("tid")
    one = hit.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    val = (F.col("_l1") * F.col("va") + F.col("_l2") * F.col("vb")
           + F.col("_l3") * F.col("vc"))
    return one.select("i", "j", val.alias("value"))


def idw_grid(points: DataFrame, *, cell: float, power: int = 2,
             radius: float | None = None, x_col: str = "x", y_col: str = "y",
             v_col: str = "v", radius1: float | None = None,
             radius2: float | None = None, angle: float = 0.0,
             smoothing: float = 0.0, min_points: int = 0,
             max_points: int = 0) -> DataFrame:
    """Inverse-distance-weighted gridding (alg/gdalgrid.cpp:91-199
    GGA_InverseDistanceToAPower), full parameter surface:

      grid node (i,j) at (i*cell, j*cell); value =
      sum(v_k / w_k) / sum(1 / w_k) with w_k = (d_k^2 + smoothing^2)
      ^(power/2) over points inside the SEARCH ELLIPSE (radius1 along
      the angle-rotated major axis, radius2 minor; `radius` is the
      circular shorthand). A point exactly on the node with zero
      smoothing wins outright (reference short-circuit). Nodes with
      fewer than `min_points` ellipse hits are absent (the reference
      writes nodata); `max_points` > 0 keeps only the nearest
      max_points hits, ordered by (distance, point id) — the
      InverseDistanceToAPowerNearestNeighbor flavor's selection rule.

    Scale shape: points explode to the grid nodes within the ellipse's
    bounding reach (bounded fan-out), then groupBy(node) — the
    cell-bucketed replacement for the reference's quadtree search. The
    per-node fold is an ORDERED list fold (by (d2, pid) when
    max_points trims, else pid) so the float sum is deterministic and
    cross-engine exact.
    """
    import math as _m

    r1 = float(radius1 if radius1 is not None else radius)
    r2 = float(radius2 if radius2 is not None else radius)
    reach = int(max(r1, r2) / cell) + 1
    ca, sa = _m.cos(_m.radians(angle)), _m.sin(_m.radians(angle))
    spark = points.sparkSession
    offs = (
        spark.range(-reach, reach + 1).select(F.col("id").alias("_di"))
        .crossJoin(spark.range(-reach, reach + 1).select(F.col("id").alias("_dj")))
    )
    pts = points.select(
        F.col("pid"), F.col(x_col).alias("_x"), F.col(y_col).alias("_y"),
        F.col(v_col).alias("_v"),
        F.floor(F.col(x_col) / cell).cast("bigint").alias("_ci"),
        F.floor(F.col(y_col) / cell).cast("bigint").alias("_cj"),
    )
    cand = (
        pts.crossJoin(F.broadcast(offs))
        .select(
            "pid", "_x", "_y", "_v",
            (F.col("_ci") + F.col("_di")).alias("i"),
            (F.col("_cj") + F.col("_dj")).alias("j"),
        )
        .withColumn("_dx", F.col("i") * cell - F.col("_x"))
        .withColumn("_dy", F.col("j") * cell - F.col("_y"))
        .withColumn("_d2", F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy"))
    )
    # ellipse membership in the angle-rotated frame (GDALGridExtractPoint
    # ellipse test; circular inputs reduce to the plain d2 bound)
    if r1 == r2 and angle == 0.0:
        cand = cand.filter(F.col("_d2") <= F.lit(r1 * r1))
    else:
        rx = F.col("_dx") * F.lit(ca) + F.col("_dy") * F.lit(sa)
        ry = -F.col("_dx") * F.lit(sa) + F.col("_dy") * F.lit(ca)
        cand = cand.filter(
            (rx * rx) / F.lit(r1 * r1) + (ry * ry) / F.lit(r2 * r2) <= F.lit(1.0)
        )
    # ordered fold: nearest-first when max_points trims, pid order else
    key = F.struct("_d2", "pid", "_v") if max_points > 0 else \
        F.struct("pid", "_d2", "_v")
    agg = cand.groupBy("i", "j").agg(
        F.sort_array(F.collect_list(key)).alias("pts")
    )
    if min_points > 0:
        agg = agg.filter(F.size("pts") >= min_points)
    if max_points > 0:
        agg = agg.withColumn("pts", F.expr(f"slice(pts, 1, {int(max_points)})"))
    if power % 2 != 0:
        raise ValueError("idw_grid supports even powers (d^p = d2^(p/2))")
    pw = power // 2  # d^power == d2^(power/2) for even powers
    s2 = repr(float(smoothing) * float(smoothing))
    d2s = f"(s._d2 + {s2})"
    d2p = d2s if pw == 1 else f"power({d2s}, {pw})"
    num = F.expr(f"aggregate(pts, 0D, (a, s) -> a + s._v / {d2p})")
    den = F.expr(f"aggregate(pts, 0D, (a, s) -> a + 1.0 / {d2p})")
    val = num / den
    # reference singularity guard (alg/gdalgrid.cpp:162,288): use the
    # point value directly when the SMOOTHED squared distance is under
    # 1e-13 — not only on a bit-exact node hit. d2 + s^2 < 1e-13
    # rewritten as d2 < 1e-13 - s^2 (never fires once s^2 >= 1e-13,
    # exactly like the reference).
    thr = 1e-13 - float(smoothing) * float(smoothing)
    if thr > 0.0:
        # tie-break by pid (GDAL scans points in order and returns on the
        # FIRST sub-threshold hit, alg/gdalgrid.cpp:162) — pts may be sorted
        # by (_d2, pid) when max_points>0, so take min-pid explicitly rather
        # than the nearest element.
        exact = F.expr(
            f"transform(filter(pts, s -> s._d2 < {thr!r}),"
            " s -> struct(s.pid as pid, s._v as _v))")
        val = F.when(F.size(exact) > 0,
                     F.array_min(exact)["_v"].cast("double")).otherwise(val)
    return agg.select("i", "j", val.alias("value"))
