"""Raster <-> vector operators over the tile-table representation.

A raster is a DataFrame of pixels or fixed-size tiles keyed by
(zoom, tx, ty) — the unit gdal2tiles produces and GDALRasterBlock
caches (SURVEY.md §1.2). Operators:

- synth_raster: deterministic world-coverage pixel table (int64 band —
  integer values keep every aggregation exact across engines).
- rasterize_points / rasterize_polygons: vector→raster burn. Polygon
  burn = PIP of pixel centers (the scanline parity fill of
  alg/llrasterize.cpp:58 evaluated per pixel center; same crossing-rule
  family as ogrlinearring.cpp:503-531), MERGE_ALG=ADD ≙ groupBy.sum
  (alg/gdalrasterize.cpp:800-817).
- overview_reduce: one-zoom downsample, parent pixel from its 2x2
  children (gcore/overview.cpp semantics; average/nearest/min/max/sum).
- polygonize_ccl: raster→vector connected-component labeling
  (alg/polygonize.cpp:73-87, 4-connected), distributed: per-tile CCL in
  an Arrow-batched UDF + cross-tile label-equivalence union — the
  partition-border stitch the single-node reference never needs.

Scale notes: pixel tables partition by (ty band) naturally via
range-partition on (ty, tx); per-tile UDFs see one tile per group
(applyInPandas), halo joins are equi-joins on neighbor tile ids.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources import derive

SALT_BAND = 201


def synth_raster(spark: SparkSession, width: int, height: int,
                 block: int = 24, n_values: int = 2) -> DataFrame:
    """Deterministic world pixel table (px, py, pid, value).

    value = checkerboard plateau id over `block`-sized squares:
    (bx + by) % n_values — axis-aligned plateaus whose connected
    components are exactly the blocks (diagonal same-value blocks are
    NOT 4-connected), giving polygonize an analytically known oracle
    while still exercising cross-tile stitching whenever `block` does
    not divide the tile size.
    """
    return (
        spark.range(0, width * height)
        .select(
            (F.col("id") % width).alias("px"),
            (F.col("id") / width).cast("bigint").alias("py"),
            F.col("id").alias("pid"),
        )
        .withColumn(
            "value",
            ((F.col("px") / block).cast("bigint")
             + (F.col("py") / block).cast("bigint")) % n_values,
        )
    )


def synth_band(spark: SparkSession, zoom: int, tile_px: int = 16) -> DataFrame:
    """World-coverage int64 band at `zoom`: one row per pixel
    (tx, ty, ppx, ppy, value) with value = LCG hash of the global pixel
    id — integer-valued so overview averages (sum/4) stay exact."""
    n = 2**zoom
    w = n * tile_px
    df = (
        spark.range(0, w * w)
        .select(
            (F.col("id") % w).alias("gx"),
            (F.col("id") / w).cast("bigint").alias("gy"),
            F.col("id").alias("pid"),
        )
        .select(
            (F.col("gx") / tile_px).cast("bigint").alias("tx"),
            (F.col("gy") / tile_px).cast("bigint").alias("ty"),
            (F.col("gx") % tile_px).alias("ppx"),
            (F.col("gy") % tile_px).alias("ppy"),
            F.col("gx"), F.col("gy"), F.col("pid"),
        )
        .withColumn("value", _hash_col(F.col("pid"), SALT_BAND))
    )
    return df


def _hash_col(i, salt: int):
    h0 = i % derive.M31
    h1 = (h0 * derive.A + F.lit(salt)) % derive.M31
    return (h1 * derive.A + F.lit(salt * 7 + 13)) % derive.M31


def nearblack(px: DataFrame, *, near_dist: int, value_col: str = "value",
              x_col: str = "px", y_col: str = "py",
              replace_value: int = 0) -> DataFrame:
    """nearblack edge-collar trimming (apps/nearblack_lib.cpp
    ProcessLine; the nMaxNonBlack=0 / single-color-black slice): a
    pixel is collar iff it lies in the near-black prefix or suffix run
    of its row or of its column (near-black = value <= near_dist, black
    color 0, unsigned data); collar pixels take `replace_value` and
    mask 0, all others keep their value with mask 255.

    Exactness: with nMaxNonBlack=0 the reference's scan replaces ONLY
    near-black pixels (the first non-black pixel terminates the run
    before any replacement) and the replacement value is itself
    near-black, so near-black-ness is invariant under the operation —
    the sequential top-down + bottom-up passes of the reference and
    this simultaneous four-scan union reach the same fixed point.

    Plan shape: two aggregations reduce the raster to O(height+width)
    run-bound rows, broadcast-joined back onto the pixel table — the
    pixel table itself never shuffles, so the plan holds at any raster
    size."""
    near = F.col(value_col) <= F.lit(near_dist)
    nb_x = F.when(~near, F.col(x_col))
    nb_y = F.when(~near, F.col(y_col))
    rows = px.groupBy(y_col).agg(F.min(nb_x).alias("_rlo"),
                                 F.max(nb_x).alias("_rhi"))
    cols = px.groupBy(x_col).agg(F.min(nb_y).alias("_clo"),
                                 F.max(nb_y).alias("_chi"))
    out = (px.join(F.broadcast(rows), y_col)
             .join(F.broadcast(cols), x_col))
    collar = (F.col("_rlo").isNull() | (F.col(x_col) < F.col("_rlo"))
              | (F.col(x_col) > F.col("_rhi"))
              | F.col("_clo").isNull() | (F.col(y_col) < F.col("_clo"))
              | (F.col(y_col) > F.col("_chi")))
    return out.select(
        F.col(x_col), F.col(y_col),
        F.when(collar, F.lit(replace_value)).otherwise(F.col(value_col))
         .alias(value_col),
        F.when(collar, F.lit(0)).otherwise(F.lit(255)).alias("mask"),
    )


def retile(px: DataFrame, *, width: int, height: int, tile_w: int,
           tile_h: int, overlap: int = 0, x_col: str = "gx",
           y_col: str = "gy", value_col: str = "value") -> DataFrame:
    """gdal_retile re-tiling (osgeo_utils/gdal_retile.py:87 tile_info,
    :414 createTile): tile (xi, yi) is 1-based with pixel offset
    (xi-1)*(tile-overlap), extent clamped at the image edge;
    countTiles = 1 + ceil((size-tile)/(tile-overlap)) when size>tile.
    A pixel in an overlap band lands in every covering tile.

    Emits (xi, yi, ox, oy, value): tile indices plus the pixel's
    offset within the tile. Scale shape: per-pixel candidate-tile
    range is computed arithmetically and exploded (at most
    ceil(tile/(tile-overlap)) tiles per axis) — pure JVM projection +
    explode, no join against a tile list, so the plan is independent
    of how many tiles the raster produces."""
    sx, sy = tile_w - overlap, tile_h - overlap
    count_x = 1 + (max(0, width - tile_w) + sx - 1) // sx if width > tile_w else 1
    count_y = 1 + (max(0, height - tile_h) + sy - 1) // sy if height > tile_h else 1
    kx_seq = (f"sequence(CASE WHEN {x_col} < {tile_w} THEN 0 "
              f"ELSE ({x_col} - {tile_w}) DIV {sx} + 1 END, "
              f"least({x_col} DIV {sx}, {count_x - 1}))")
    ky_seq = (f"sequence(CASE WHEN {y_col} < {tile_h} THEN 0 "
              f"ELSE ({y_col} - {tile_h}) DIV {sy} + 1 END, "
              f"least({y_col} DIV {sy}, {count_y - 1}))")
    return (
        px.select(x_col, y_col, value_col,
                  F.explode(F.expr(kx_seq)).alias("_kx"))
          .select(x_col, y_col, value_col, "_kx",
                  F.explode(F.expr(ky_seq)).alias("_ky"))
          .select(
              (F.col("_kx") + 1).alias("xi"),
              (F.col("_ky") + 1).alias("yi"),
              (F.col(x_col) - F.col("_kx") * sx).alias("ox"),
              (F.col(y_col) - F.col("_ky") * sy).alias("oy"),
              F.col(value_col),
          )
    )


def tile_index(rasters: DataFrame, *, id_col: str = "rid",
               x0_col: str = "x0", y0_col: str = "y0",
               psx_col: str = "psx", psy_col: str = "psy",
               w_col: str = "w", h_col: str = "h") -> DataFrame:
    """gdaltindex (apps/gdaltindex_lib.cpp): one extent row per input
    raster from its geotransform — corners (x0, y0) and
    (x0 + w*psx, y0 + h*psy), normalized to (minx, miny, maxx, maxy)
    so north-up (psy < 0) and south-up sources index identically.
    Pure column math over the raster catalog."""
    x1 = F.col(x0_col) + F.col(w_col) * F.col(psx_col)
    y1 = F.col(y0_col) + F.col(h_col) * F.col(psy_col)
    return rasters.select(
        F.col(id_col),
        F.least(F.col(x0_col), x1).alias("minx"),
        F.least(F.col(y0_col), y1).alias("miny"),
        F.greatest(F.col(x0_col), x1).alias("maxx"),
        F.greatest(F.col(y0_col), y1).alias("maxy"),
        F.col(w_col), F.col(h_col),
    )


def overview_reduce(band: DataFrame, alg: str = "average") -> DataFrame:
    """One-zoom downsample: parent pixel (gx//2, gy//2) from its 2x2
    children (gcore/overview.cpp block reduction). Exact for int bands:
    average = sum/4.0 with an exact integer sum, so engine-independent.
    """
    parent = band.select(
        (F.col("gx") / 2).cast("bigint").alias("gx"),
        (F.col("gy") / 2).cast("bigint").alias("gy"),
        F.col("value"),
    ).groupBy("gx", "gy")
    if alg == "average":
        out = parent.agg((F.sum("value") / F.count("*")).alias("value"))
    elif alg == "sum":
        out = parent.agg(F.sum("value").cast("double").alias("value"))
    elif alg == "min":
        out = parent.agg(F.min("value").cast("double").alias("value"))
    elif alg == "max":
        out = parent.agg(F.max("value").cast("double").alias("value"))
    elif alg == "nearest":
        # reference 'nearest' picks the top-left child of the 2x2 block
        out = (
            band.filter((F.col("gx") % 2 == 0) & (F.col("gy") % 2 == 0))
            .select(
                (F.col("gx") / 2).cast("bigint").alias("gx"),
                (F.col("gy") / 2).cast("bigint").alias("gy"),
                F.col("value").cast("double").alias("value"),
            )
        )
        return out
    elif alg in ("mode", "med", "q1", "q3", "rms"):
        # order-statistic family (GDALResampleAlg GRA_Mode/Med/Q1/Q3/
        # RMS, alg/gdalwarper.h:37-67). Deterministic rules over the
        # sorted 2x2 child list vs:
        #   mode: most frequent value, ties -> SMALLEST value (the
        #         reference's tie order is first-encountered, which is
        #         scan-order-dependent — we pin a total order instead);
        #   med:  mean of the two middle values;
        #   q1/q3: nearest-rank floor((n-1)*q) on the sorted list;
        #   rms:  sqrt(sum(v^2)/n) (exact int squares, one IEEE sqrt).
        srt = parent.agg(F.sort_array(F.collect_list("value")).alias("vs"))
        n = F.size("vs")
        if alg == "mode":
            val = F.expr(
                "element_at(array_sort(transform(array_distinct(vs), d -> "
                "struct(-size(filter(vs, v -> v = d)) as negcnt, d as v))), 1).v"
            ).cast("double")
        elif alg == "med":
            lo = F.element_at("vs", ((n + 1) / 2).cast("int"))
            hi = F.element_at("vs", (n / 2 + 1).cast("int"))
            val = (lo + hi).cast("double") / 2.0
        elif alg == "q1":
            val = F.element_at("vs", (((n - 1) / 4).cast("int") + 1)).cast("double")
        elif alg == "q3":
            val = F.element_at("vs", (((n - 1) * 3 / 4).cast("int") + 1)).cast("double")
        else:  # rms
            # double fold (v^2 at 2^62 overflows int64); order pinned
            # by the sorted list so the sum is engine-deterministic
            val = F.sqrt(
                F.expr(
                    "aggregate(vs, 0D, (a, v) -> a + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
                ) / n.cast("double")
            )
        out = srt.select("gx", "gy", val.alias("value"))
    else:
        raise ValueError(f"unknown resampling alg: {alg}")
    return out


# --------------------------------------------------------------- rasterize

def pixel_grid(spark: SparkSession, zoom: int, tile_px: int = 16) -> DataFrame:
    """World pixel-center grid in lon/lat at `zoom` (mercator-square
    pixels): (gx, gy, pid, lon, lat). Pixel centers computed by exact
    linear math in mercator meters, then inverse-projected."""
    from ..functions import tiles as TF

    n = 2**zoom
    w = n * tile_px
    os_ = TF.ORIGIN_SHIFT
    pix = 2.0 * os_ / float(w)
    df = (
        spark.range(0, w * w)
        .select(
            (F.col("id") % w).alias("gx"),
            (F.col("id") / w).cast("bigint").alias("gy"),
            F.col("id").alias("pid"),
        )
        .withColumn("mx", (F.col("gx") + F.lit(0.5)) * F.lit(pix) - F.lit(os_))
        # gy is a NORTH-down row index (XYZ orientation): my decreases with gy
        .withColumn("my", F.lit(os_) - (F.col("gy") + F.lit(0.5)) * F.lit(pix))
        .withColumn("lon", F.col("mx") / F.lit(os_) * F.lit(180.0))
        .withColumn(
            "lat",
            F.lit(180.0 / np.pi)
            * (F.lit(2.0) * F.atan(F.exp(F.col("my") / F.lit(os_) * F.lit(np.pi)))
               - F.lit(np.pi / 2.0)),
        )
        .drop("mx", "my")
    )
    return df


def rasterize_polygons(
    grid: DataFrame,
    cover: DataFrame,
    *,
    res: int,
    merge_alg: str = "add",
    burn_col: str = "poly_id",
) -> DataFrame:
    """Burn polygons into a pixel grid: pixel-center PIP (the per-center
    evaluation of the scanline parity rule, alg/llrasterize.cpp:58) then
    MERGE_ALG combine (alg/gdalrasterize.cpp:800-817):
      add     -> sum of (burn+1) over covering polygons
      replace -> max burn (deterministic stand-in for last-wins)
    Returns (gx, gy, burn).
    """
    from .spatial_join import spatial_join_points_in_polygons

    hits = spatial_join_points_in_polygons(
        grid, cover, res=res,
        keep_point_cols=["gx", "gy"],
        keep_poly_cols=sorted({"poly_id", burn_col}),
    )
    g = hits.groupBy("gx", "gy")
    if merge_alg == "add":
        return g.agg(F.sum(F.col(burn_col) + 1).alias("burn"))
    if merge_alg == "replace":
        return g.agg(F.max(F.col(burn_col)).alias("burn"))
    raise ValueError(f"unknown merge_alg: {merge_alg}")


def pixel_polys(spark: SparkSession,
                polys: list[tuple[int, list[float], list[float]]]) -> DataFrame:
    """Literal pixel-space polygon layer (poly_id, xs, ys) — closed
    rings NOT repeated (edge k joins vertex k to k+1 mod n)."""
    return spark.createDataFrame(
        [(pid, [float(v) for v in xs], [float(v) for v in ys])
         for pid, xs, ys in polys],
        "poly_id bigint, xs array<double>, ys array<double>",
    )


def _poly_edges(polys: DataFrame) -> DataFrame:
    """Explode rings to directed edges (x0,y0)->(x1,y1), wrapping the
    last vertex back to the first."""
    return polys.select(
        "poly_id",
        F.explode(F.expr(
            "transform(sequence(1, size(xs)), i -> struct("
            "element_at(xs, i) as x0, element_at(ys, i) as y0, "
            "element_at(xs, i % size(xs) + 1) as x1, "
            "element_at(ys, i % size(xs) + 1) as y1))"
        )).alias("e"),
    ).select("poly_id", "e.x0", "e.y0", "e.x1", "e.y1")


def rasterize_all_touched(polys: DataFrame, *, width: int,
                          height: int) -> DataFrame:
    """gdal_rasterize ALL_TOUCHED=TRUE (alg/gdalrasterize.cpp:903,
    llrasterize.cpp GDALdllImageLineAllTouched): every pixel whose
    cell the polygon BOUNDARY passes through, unioned with the
    interior fill (pixel-center parity, llrasterize.cpp:58).

    Boundary walk re-derived declaratively instead of the reference's
    stepping loop: each edge explodes to the integer columns its x-span
    crosses; within column i the segment occupies y in [y(xlo), y(xhi)]
    (xlo/xhi = the slab clip), so it touches rows floor(min)..floor(max).
    Exact for inputs in generic position (no vertex or crossing exactly
    on a cell boundary — the reference nudges such cases by 1e-9;
    fixtures here keep coordinates strictly off-grid). Everything is
    JVM higher-order/sequence expressions — one explode chain, one
    distinct, no Python. Returns (gx, gy, poly_id) distinct.

    At corpus scale the edge explode is per-edge-local (no shuffle
    until the final distinct, which groups on (pixel, poly) keys)."""
    ed = _poly_edges(polys)
    near_vert = F.abs(F.col("x1") - F.col("x0")) < F.lit(1e-12)
    xmin = F.least("x0", "x1")
    xmax = F.greatest("x0", "x1")
    # explode the UNCLIPPED span (floor(min)..floor(max) is always
    # ascending) and bound-filter after — clipping first could invert
    # the range, and F.sequence(hi, lo) silently descends
    cols = ed.withColumn(
        "i", F.explode(F.sequence(F.floor(xmin).cast("int"),
                                  F.floor(xmax).cast("int"))),
    ).filter((F.col("i") >= 0) & (F.col("i") < width))
    xlo = F.greatest(F.col("i").cast("double"), xmin)
    xhi = F.least(F.col("i").cast("double") + 1.0, xmax)
    t_lo = (xlo - F.col("x0")) / (F.col("x1") - F.col("x0"))
    t_hi = (xhi - F.col("x0")) / (F.col("x1") - F.col("x0"))
    ya = F.when(near_vert, F.least("y0", "y1")) \
        .otherwise(F.col("y0") + t_lo * (F.col("y1") - F.col("y0")))
    yb = F.when(near_vert, F.greatest("y0", "y1")) \
        .otherwise(F.col("y0") + t_hi * (F.col("y1") - F.col("y0")))
    touched = (
        cols.withColumn(
            "j",
            F.explode(F.sequence(F.floor(F.least(ya, yb)).cast("int"),
                                 F.floor(F.greatest(ya, yb)).cast("int"))),
        )
        .filter((F.col("j") >= 0) & (F.col("j") < height))
        .select(F.col("i").alias("gx"), F.col("j").alias("gy"), "poly_id")
    )
    interior = rasterize_interior(polys, width=width, height=height)
    return touched.unionByName(interior).distinct()


def rasterize_interior(polys: DataFrame, *, width: int,
                       height: int) -> DataFrame:
    """Pixel-center parity fill in pixel space (llrasterize.cpp:58
    scanline rule evaluated per center): center (i+.5, j+.5) is inside
    iff an odd number of edges cross the upward ray. Edge crossing:
    (y0 > yc) != (y1 > yc) and xc < x-at-yc. Returns (gx, gy, poly_id).

    The grid x edges crossJoin is the SMALL-LAYER path (a handful of
    literal shapes, as in gdal_rasterize with one vector layer); for a
    large polygon layer use rasterize_polygons, whose cell join
    assigns each pixel only its candidate polygons."""
    spark = polys.sparkSession
    grid = spark.range(0, width * height).select(
        (F.col("id") % width).cast("int").alias("gx"),
        (F.col("id") / width).cast("int").alias("gy"),
    )
    ed = _poly_edges(polys)
    j = grid.crossJoin(ed)
    xc = F.col("gx").cast("double") + 0.5
    yc = F.col("gy").cast("double") + 0.5
    straddles = (F.col("y0") > yc) != (F.col("y1") > yc)
    xat = F.col("x0") + (yc - F.col("y0")) / (F.col("y1") - F.col("y0")) \
        * (F.col("x1") - F.col("x0"))
    crossing = F.when(straddles & (xc < xat), 1).otherwise(0)
    return (
        j.groupBy("gx", "gy", "poly_id")
        .agg(F.sum(crossing).alias("_n"))
        .filter(F.col("_n") % 2 == 1)
        .select("gx", "gy", "poly_id")
    )


def rasterize_inverse(polys: DataFrame, *, width: int, height: int,
                      burn: int = 255) -> DataFrame:
    """gdal_rasterize -i (gdalrasterize.cpp bInvertRasterize): burn
    `burn` into every pixel NOT covered by any geometry (cover =
    pixel-center fill). Anti-join of the grid against the fill."""
    spark = polys.sparkSession
    grid = spark.range(0, width * height).select(
        (F.col("id") % width).cast("int").alias("gx"),
        (F.col("id") / width).cast("int").alias("gy"),
    )
    filled = rasterize_interior(polys, width=width, height=height) \
        .select("gx", "gy").distinct()
    return grid.join(filled, ["gx", "gy"], "left_anti") \
        .withColumn("burn", F.lit(burn).cast("bigint"))


def sieve_filter(pixels: DataFrame, *, width: int, threshold: int,
                 tile: int = 64, connect: int = 4) -> DataFrame:
    """Sieve: merge raster polygons smaller than `threshold` pixels into
    their largest neighboring polygon (alg/gdalsievefilter.cpp;
    nConnectedness 4 or 8 applies to both component building and the
    neighbor search, gdalsievefilter.cpp:124).

    One merge round (sufficient when small components are isolated
    islands; the reference iterates for cascades — chain calls to
    cascade). Plan: per-pixel FINAL component labels (label_pixels,
    shared with polygonize) -> component sizes -> cross-component
    border adjacency -> each small component adopts the VALUE of its
    largest neighbor (ties -> smallest component label). Returns the
    sieved raster (px, py, value).
    """
    lab = label_pixels(pixels, width=width, tile=tile, connect=connect)
    # materialize the labeled table once: sizes, both adjacency sides,
    # comp values and the final remap each re-evaluate `lab` otherwise
    # (6-8 full CCL re-runs; component adjacency can land anywhere, so
    # no border-band shortcut applies here). persist keeps lineage;
    # outside a `cache.scope()` the entry stays in CacheManager (see
    # the dedup module docstring for the long-lived-session guidance).
    lab = cache.persist(lab)
    sizes = lab.groupBy("comp").agg(F.count("*").alias("n"))
    small = sizes.filter(F.col("n") < threshold).select("comp")
    # adjacency: neighbors (per connectedness) with different labels
    a = lab.select(F.col("px").alias("ax"), F.col("py").alias("ay"),
                   F.col("comp").alias("al"))
    adj_offs = ((1, 0), (0, 1)) if connect == 4 else \
        ((1, 0), (0, 1), (1, 1), (-1, 1))
    edges = []
    for dx, dy in adj_offs:
        b = lab.select((F.col("px") - dx).alias("ax"), (F.col("py") - dy).alias("ay"),
                       F.col("comp").alias("bl"))
        e = a.join(b, ["ax", "ay"]).filter(F.col("al") != F.col("bl"))
        edges.append(e.select("al", "bl"))
        edges.append(e.select(F.col("bl").alias("al"), F.col("al").alias("bl")))
    adj = edges[0]
    for e in edges[1:]:
        adj = adj.unionByName(e)
    adj = adj.distinct()
    # largest neighbor per small component (ties -> smallest label)
    nbr = (
        adj.join(small, adj["al"] == small["comp"]).drop("comp")
        .join(sizes.select(F.col("comp").alias("bl"), F.col("n").alias("bn")), "bl")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("al").orderBy(F.col("bn").desc(), F.col("bl").asc())
    target = (
        nbr.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col("al").alias("comp"), F.col("bl").alias("into"))
    )
    comp_vals = lab.groupBy("comp").agg(F.first("value").alias("cvalue"))
    target_v = target.join(
        comp_vals.select(F.col("comp").alias("into"), F.col("cvalue").alias("new_value")),
        "into",
    ).select("comp", "new_value")
    return (
        lab.join(F.broadcast(target_v), "comp", "left")
        .select(
            "px", "py",
            F.coalesce(F.col("new_value"), F.col("value")).alias("value"),
        )
    )


def pansharpen_weighted(ms: DataFrame, pan: DataFrame, *, bands: list[str],
                        weights: list[float] | None = None) -> DataFrame:
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp, the
    GDALCreatePansharpenedVRT weighted algorithm): each multispectral
    band is scaled by pan / pseudo_pan where pseudo_pan is the weighted
    sum of the MS bands. Joins the (gx, gy)-keyed band tables; pure
    column arithmetic in a fixed order (cross-engine exact given exact
    inputs). Returns (gx, gy, <band>_sharp ... )."""
    ws = weights or [1.0 / len(bands)] * len(bands)
    j = ms.join(pan.select("gx", "gy", F.col("value").alias("_pan")), ["gx", "gy"])
    pseudo = None
    for b, w in zip(bands, ws):
        term = F.col(b) * F.lit(w)
        pseudo = term if pseudo is None else pseudo + term
    j = j.withColumn("_pseudo", pseudo)
    out_cols = [F.col("gx"), F.col("gy")]
    for b in bands:
        out_cols.append(
            (F.col(b) * (F.col("_pan") / F.col("_pseudo"))).alias(f"{b}_sharp")
        )
    return j.select(*out_cols)


def raster_calc(pixels: DataFrame, expr: str, *, value_cols: dict[str, str] | None = None,
                out_col: str = "value") -> DataFrame:
    """gdal_calc analog (osgeo_utils/gdal_calc.py, VRT pixel functions):
    evaluate a numpy expression over Arrow pixel batches; names in
    `value_cols` (default {'A': 'value'}) bind to columns."""
    value_cols = value_cols or {"A": "value"}
    keep = [c for c in pixels.columns if c not in set(value_cols.values())]
    schema = ", ".join(
        [f"{c} {pixels.schema[c].dataType.simpleString()}" for c in keep]
        + [f"{out_col} double"]
    )

    def run(batches):
        ns_base = {"np": np}
        for pdf in batches:
            ns = dict(ns_base)
            for name, col in value_cols.items():
                ns[name] = pdf[col].to_numpy()
            res = eval(expr, {"__builtins__": {}}, ns)  # noqa: S307 — user calc expr, gdal_calc contract
            out = pdf[keep].copy()
            out[out_col] = np.asarray(res, dtype=np.float64)
            yield out

    return pixels.mapInPandas(run, schema)


# --------------------------------------------------------------- polygonize

_CCL_SCHEMA = "tile_x bigint, tile_y bigint, px bigint, py bigint, value bigint, label bigint"


def _tile_ccl(pdf: pd.DataFrame, tile: int, width: int,
              connect: int = 4) -> pd.DataFrame:
    """4/8-connected two-pass CCL within one tile (alg/polygonize.cpp:174
    first pass builds equivalences, :234 second pass resolves; 8-conn is
    the GDALPolygonize 8CONNECTED=8 option, polygonize.cpp:482).
    Labels are provisional global pixel ids (min pid in the tile-local
    component) so the cross-tile merge can take global minima."""
    xs = pdf["px"].to_numpy()
    ys = pdf["py"].to_numpy()
    vals = pdf["value"].to_numpy()
    x0 = xs.min() // tile * tile
    y0 = ys.min() // tile * tile
    h = w = tile
    # explicit presence mask — a value sentinel would mislabel signed
    # bands (any negative pixel would read as "absent")
    img = np.zeros((h, w), dtype=np.int64)
    present2d = np.zeros((h, w), dtype=bool)
    lx = xs - x0
    ly = ys - y0
    img[ly, lx] = vals
    present2d[ly, lx] = True
    # union-find over local pixels
    parent = np.arange(h * w, dtype=np.int64)

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb

    # horizontal/vertical 4-adjacency, plus both diagonals for 8-conn
    offs = ((0, 1), (1, 0)) if connect == 4 else ((0, 1), (1, 0), (1, 1), (1, -1))
    for (dy, dx) in offs:
        ay, ax = np.nonzero(present2d)
        by, bx = ay + dy, ax + dx
        ok = (by < h) & (bx < w) & (bx >= 0)
        ay, ax, by, bx = ay[ok], ax[ok], by[ok], bx[ok]
        same = present2d[by, bx] & (img[ay, ax] == img[by, bx])
        for a, b in zip(ay[same] * w + ax[same], by[same] * w + bx[same]):
            union(a, b)
    # resolve: label = min global pid in local component
    loc = ly * w + lx
    roots = np.array([find(a) for a in loc])
    gpid = ys * width + xs
    lab = {}
    order = np.argsort(gpid)
    for idx in order:
        r = roots[idx]
        if r not in lab:
            lab[r] = gpid[idx]
    out = pdf.copy()
    out["label"] = [lab[r] for r in roots]
    return out


# label_pixels union-finds up to this many label edges on the driver
LABEL_DRIVER_MAX_EDGES = 2_000_000


def label_pixels(pixels: DataFrame, *, width: int, tile: int = 64,
                 connect: int = 4) -> DataFrame:
    """Distributed 4/8-connected CCL: per-tile CCL (applyInPandas) then
    iterative cross-tile label union via border-edge equivalences.
    connect=8 adds both diagonal adjacencies (GDALPolygonize
    8CONNECTED=8, alg/polygonize.cpp:482).

    Returns per-pixel rows (px, py, value, pid, comp) with comp = min
    global pixel id of the component (canonical, engine-independent).

    The stitch loop is the distributed replacement for the reference's
    global equivalence table (alg/polygonize.cpp:174): border pairs form
    a tiny graph of provisional labels; we iterate label -> min(neighbor
    label) to a fixed point (label propagation; O(log diameter) rounds
    on the label graph, each a small self-join — the full pixel table
    is scanned/shuffled/CCL-labeled exactly twice: once producing the
    materialized tile-BORDER band the stitch joins run on, once in the
    final remap).
    """
    px = pixels.withColumn("tile_x", (F.col("px") / tile).cast("bigint")) \
               .withColumn("tile_y", (F.col("py") / tile).cast("bigint"))

    labeled = px.select("tile_x", "tile_y", "px", "py", "value").groupBy(
        "tile_x", "tile_y"
    ).applyInPandas(
        lambda pdf: _tile_ccl(pdf, tile, width, connect), _CCL_SCHEMA
    ).withColumn("pid", F.col("py") * width + F.col("px"))
    # Every cross-tile equivalence ENDPOINT lies within 1 px of a tile
    # line (the crossing axis pins one side to tile-1 mod tile and the
    # other to 0 mod tile), so only the BORDER BAND — <= 4*tile of the
    # tile^2 pixels per tile — participates in the stitch joins.
    # Materialize that band once (persist, tiny; lineage kept so a
    # lost executor recomputes): the
    # per-tile CCL then executes exactly twice per call — once
    # producing the band, once in the final remap — instead of twice
    # per cross-offset (8x for 8-conn; the exchanges below the Python
    # stage are NOT reused across self-join branches, plan-verified).
    band = (
        (F.col("px") % tile == 0) | (F.col("px") % tile == tile - 1)
        | (F.col("py") % tile == 0) | (F.col("py") % tile == tile - 1)
    )
    border_px = labeled.filter(band).select("px", "py", "value", "label")
    border_px = cache.persist(border_px)

    # border equivalence pairs: offsets whose neighbor can land in a
    # different tile (right/down for 4-conn, + both diagonals for 8)
    a = border_px.select(
        F.col("px").alias("ax"), F.col("py").alias("ay"),
        F.col("value").alias("av"), F.col("label").alias("al"),
    )
    cross_offs = [(1, 0), (0, 1)] if connect == 4 else \
        [(1, 0), (0, 1), (1, 1), (-1, 1)]
    eqs = []
    for dx, dy in cross_offs:
        # keep only pixels whose (dx,dy) neighbor is in another tile —
        # same-tile pairs were already unioned by the local CCL pass
        conds = []
        if dx == 1:
            conds.append((F.col("ax") + 1) % tile == 0)
        elif dx == -1:
            conds.append(F.col("ax") % tile == 0)
        if dy == 1:
            conds.append((F.col("ay") + 1) % tile == 0)
        border = conds[0]
        for c in conds[1:]:
            border = border | c
        b = border_px.select(
            F.col("px").alias("bx"), F.col("py").alias("by"),
            F.col("value").alias("bv"), F.col("label").alias("bl"),
        )
        e = (
            a.filter(border)
            .join(b, (F.col("bx") == F.col("ax") + dx) & (F.col("by") == F.col("ay") + dy))
            .filter(F.col("av") == F.col("bv"))
            .select(F.col("al").alias("l1"), F.col("bl").alias("l2"))
        )
        eqs.append(e)
    edges = eqs[0]
    for e in eqs[1:]:
        edges = edges.unionByName(e)
    edges = edges.distinct()
    # undirected
    edges = edges.unionByName(
        edges.select(F.col("l2").alias("l1"), F.col("l1").alias("l2"))
    ).distinct().cache()

    # Resolve the label graph to canonical roots. The graph is tiny
    # relative to the pixel table (one node per provisional tile-border
    # label), so the fast path collects it once and union-finds on the
    # driver — zero per-round Spark jobs. Above the driver threshold we
    # fall back to distributed min-label propagation WITH pointer
    # doubling (root <- root(root) each round), so convergence is
    # O(log diameter) and the 64-round cap is genuinely sufficient for
    # any raster this planet stores; if the fixed point is still not
    # reached we raise instead of silently emitting wrong components.
    n_edges = edges.count()
    changed = 0
    if n_edges <= LABEL_DRIVER_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.toLocalIterator():
            ra, rb = find(row["l1"]), find(row["l2"])
            if ra != rb:
                # union by min so the root is the canonical min label
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(k, find(k)) for k in list(parent.keys())]
        mapping = pixels.sparkSession.createDataFrame(rows, "l1 bigint, root bigint")
    else:
        # `nxt` joins `half` to itself, so an uncut plan grows ~4.5x a
        # round (driver OOM by round 4): checkpoint each round, as
        # contour.contour_rings does; the caller's scope releases them
        # (the returned plan reads the last one)
        mapping = cache.checkpoint(edges.select("l1").distinct().select(
            "l1", F.col("l1").alias("root")))
        for _ in range(64):
            nbr = (
                edges.join(mapping.withColumnRenamed("l1", "l2"), "l2")
                .select("l1", "root")
            )
            half = (
                mapping.unionByName(nbr)
                .groupBy("l1")
                .agg(F.min("root").alias("root"))
            )
            # pointer doubling: root <- root's root
            nxt = cache.checkpoint(
                half.alias("h")
                .join(
                    half.select(F.col("l1").alias("_r"), F.col("root").alias("_rr")),
                    F.col("h.root") == F.col("_r"),
                    "left",
                )
                .select("l1", F.least(F.col("h.root"),
                                      F.coalesce("_rr", F.col("h.root"))).alias("root"))
            )
            changed = (
                nxt.alias("n")
                .join(mapping.alias("m"), "l1")
                .filter(F.col("n.root") != F.col("m.root"))
                .count()
            )
            mapping = nxt
            if changed == 0:
                break
    # both mappings are built by now (on the driver, or checkpointed):
    # the returned plan never reads `edges` again
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            "label_pixels: cross-tile label propagation did not converge "
            f"in 64 doubling rounds ({changed} labels still changing) — "
            "refusing to emit possibly-wrong component labels"
        )

    return (
        labeled.join(F.broadcast(mapping), labeled["label"] == mapping["l1"], "left")
        .select(
            "px", "py", "value", "pid",
            F.coalesce(F.col("root"), F.col("label")).alias("comp"),
        )
    )


def mosaic(bands: list[DataFrame], *, rule: str = "last") -> DataFrame:
    """Raster mosaic (`gdal raster mosaic` pipeline step / gdalbuildvrt
    overlap semantics): overlapping inputs resolve per pixel by
    - 'last':  the highest-priority input wins (VRT order — later
               sources paint over earlier ones),
    - 'first': the first input wins,
    - 'mean':  average of all inputs covering the pixel (exact
               int-sum / count).
    Inputs are (gx, gy, value) tables; one groupBy, no Python."""
    tagged = None
    for k, b in enumerate(bands):
        t = b.select("gx", "gy", F.col("value").cast("bigint").alias("value"),
                     F.lit(k).alias("_src"))
        tagged = t if tagged is None else tagged.unionByName(t)
    g = tagged.groupBy("gx", "gy")
    if rule == "last":
        out = g.agg(F.max(F.struct("_src", "value")).alias("_m")) \
            .select("gx", "gy", F.col("_m.value").cast("double").alias("value"))
    elif rule == "first":
        out = g.agg(F.min(F.struct("_src", "value")).alias("_m")) \
            .select("gx", "gy", F.col("_m.value").cast("double").alias("value"))
    elif rule == "mean":
        out = g.agg((F.sum("value").cast("double") / F.count("*")).alias("value")) \
            .select("gx", "gy", "value")
    else:
        raise ValueError(f"unknown mosaic rule: {rule}")
    return out


def stack_bands(bands: list[DataFrame]) -> DataFrame:
    """Band stack (`gdal raster stack`): align bands on (gx, gy) into
    one array<double> values column (band order preserved). Inner
    join — pixels must exist in every band (the stack contract)."""
    out = None
    for k, b in enumerate(bands):
        t = b.select("gx", "gy", F.col("value").cast("double").alias(f"_b{k}"))
        out = t if out is None else out.join(t, ["gx", "gy"])
    cols = [F.col(f"_b{k}") for k in range(len(bands))]
    return out.select("gx", "gy", F.array(*cols).alias("values"))


def resize_nearest(band: DataFrame, *, src_w: int, src_h: int,
                   dst_w: int, dst_h: int) -> DataFrame:
    """Raster resize (`gdal raster resize`, nearest): dest pixel ->
    src pixel by the rasterio nearest rule (int(clamp((i+0.5)*inc +
    EPS, 0, size-1)), gcore/rasterio.cpp:774) — a projection + one
    equi-join on the source key, same shape as base_tiles."""
    spark = band.sparkSession
    incx = float(src_w) / float(dst_w)
    incy = float(src_h) / float(dst_h)
    dest = spark.range(dst_w * dst_h).select(
        (F.col("id") % dst_w).alias("dx"),
        (F.col("id") / dst_w).cast("bigint").alias("dy"),
    )
    sxf = (F.lit(0.5) * F.lit(incx) + F.lit(1e-10)) + F.col("dx").cast("double") * F.lit(incx)
    syf = (F.lit(0.5) * F.lit(incy) + F.lit(1e-10)) + F.col("dy").cast("double") * F.lit(incy)
    dest = dest.withColumn(
        "gx", F.floor(F.least(F.greatest(sxf, F.lit(0.0)), F.lit(float(src_w - 1)))).cast("bigint")
    ).withColumn(
        "gy", F.floor(F.least(F.greatest(syf, F.lit(0.0)), F.lit(float(src_h - 1)))).cast("bigint")
    )
    return dest.join(band.select("gx", "gy", "value"), ["gx", "gy"]) \
        .select("dx", "dy", "value")


def scale_values(band: DataFrame, *, gain: float, offset: float) -> DataFrame:
    """Raster scale/unscale (`gdal raster scale`; GDALRasterBand
    GetScale/GetOffset semantics): value * gain + offset as pure
    column math."""
    return band.withColumn(
        "value", F.col("value").cast("double") * F.lit(gain) + F.lit(offset)
    )


CHECKSUM_PRIMES = [7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43]


def nodata_to_alpha(px: DataFrame, nodata, bands: list[str]) -> DataFrame:
    """`gdal raster nodata-to-alpha`
    (apps/gdalalg_raster_nodata_to_alpha.cpp): append an alpha band
    that is 0 where EVERY band equals its nodata value and 255
    elsewhere (the reference exposes nodata as transparency and drops
    the nodata metadata). `nodata` is a scalar applied to all bands or
    a per-band list. Pure codegen projection."""
    nd = nodata if isinstance(nodata, (list, tuple)) else [nodata] * len(bands)
    cond = None
    for c, v in zip(bands, nd):
        e = F.col(c) == F.lit(v)
        cond = e if cond is None else (cond & e)
    return px.withColumn(
        "alpha", F.when(cond, F.lit(0)).otherwise(F.lit(255)).cast("long"))


def hsv_merge_stages(r: str = "r", g: str = "g", b: str = "b",
                     v: str = "_v") -> list[tuple[str, str]]:
    """`gdal raster color-merge` pixel math
    (apps/gdalalg_raster_color_merge.cpp:130-229, itself derived from
    the classic hsv_merge.py): RGB -> (hue, saturation), then rebuild
    RGB with the VALUE channel replaced by the grayscale raster.
    Replayed in the reference's FLOAT32 arithmetic — both Spark and
    DuckDB keep FLOAT + and * in float32, so those stay bit-exact with
    the C code; DIVISIONS are pinned to double-divide-then-round-to-
    float in BOTH engines (Spark's Divide always widens float operands
    to double while DuckDB divides REALs natively — without the pin the
    engines disagree on ~0.4% of pixels). The pinned form differs from
    the reference only in the double-rounding window (~2^-29 per
    quotient — no fixture pixel hits it; documented trade).

    Returns an ordered [(column, sql_expr)] list; each expr may
    reference earlier columns. Final columns: r2, g2, b2 (ints)."""
    import numpy as np

    def fl(x):
        return f"CAST({x} AS FLOAT)"

    def fdiv(a, b):
        return f"CAST((CAST({a} AS DOUBLE) / CAST({b} AS DOUBLE)) AS FLOAT)"

    fh4 = repr(float(np.float32(4.0) / np.float32(6.0)))
    fh2 = repr(float(np.float32(2.0) / np.float32(6.0)))
    one = fl("1")
    half = fl("0.5")

    def choose(a0, a1, a2, a3, a4, a5):
        return (f"(CASE _hi WHEN 0 THEN {a0} WHEN 1 THEN {a1} "
                f"WHEN 2 THEN {a2} WHEN 3 THEN {a3} WHEN 4 THEN {a4} "
                f"ELSE {a5} END)")

    return [
        ("_maxc", f"greatest({r}, {g}, {b})"),
        ("_delta", f"(_maxc - least({r}, {g}, {b}))"),
        ("_s", fdiv("_delta", "greatest(1, _maxc)")),
        ("_den6", f"(CASE WHEN _delta = 0 THEN {fl('1')} "
                  f"ELSE {fl('6')} * {fl('_delta')} END)"),
        # hue: b-branch first, then g, else the r-branch with its
        # negative-wrap fix (color_merge.cpp:168-178)
        ("_hq", f"(CASE WHEN _maxc = {b} THEN {fdiv(f'({r} - {g})', '_den6')} "
                f"WHEN _maxc = {g} THEN {fdiv(f'({b} - {r})', '_den6')} "
                f"ELSE {fdiv(f'({g} - {b})', '_den6')} END)"),
        ("_h", f"(CASE WHEN _maxc = {b} THEN {fl(fh4)} + _hq "
               f"WHEN _maxc = {g} THEN {fl(fh2)} + _hq "
               f"WHEN _hq < {fl('0')} THEN _hq + {one} "
               f"ELSE _hq END)"),
        ("_s6h", f"({fl('6')} * _h)"),
        ("_hi", "CAST(floor(_s6h) AS INT)"),
        ("_hf", f"(_s6h - {fl('_hi')})"),
        ("_p", f"CAST(floor({fl(v)} * ({one} - _s) + {half}) AS INT)"),
        ("_q", f"CAST(floor({fl(v)} * ({one} - _s * _hf) + {half}) AS INT)"),
        ("_t", f"CAST(floor({fl(v)} * ({one} - _s * ({one} - _hf)) + {half}) AS INT)"),
        ("r2", choose(v, "_q", "_p", "_p", "_t", v)),
        ("g2", choose("_t", v, v, "_q", "_p", "_p")),
        ("b2", choose("_p", "_p", "_t", v, v, "_q")),
    ]


def hsv_color_merge(color: DataFrame, gray: DataFrame) -> DataFrame:
    """Join the RGB raster with the grayscale raster on (gx, gy) and
    apply the reference's HSV merge (hsv_merge_stages) — pure
    whole-stage-codegen column math, no Python. color: (gx, gy, r, g,
    b); gray: (gx, gy, value). Returns (gx, gy, r2, g2, b2)."""
    out = color.join(gray.withColumnRenamed("value", "_v"), ["gx", "gy"])
    for name, expr in hsv_merge_stages():
        out = out.withColumn(name, F.expr(expr))
    return out.select(
        "gx", "gy",
        F.col("r2").cast("long").alias("r2"),
        F.col("g2").cast("long").alias("g2"),
        F.col("b2").cast("long").alias("b2"),
    )


def hsv_merge_sql_ctes(src: str, *, keep: str = "gx, gy") -> str:
    """DuckDB CTE chain replaying hsv_merge_stages over `src`(keep, r,
    g, b, _v); final CTE `hsv_out` (keep, r2, g2, b2)."""
    stages = hsv_merge_stages()
    ctes = []
    prev = src
    for k, (name, expr) in enumerate(stages):
        cte = f"hsv_{k}"
        ctes.append(f"{cte} AS (SELECT *, {expr} AS {name} FROM {prev})")
        prev = cte
    ctes.append(f"hsv_out AS (SELECT {keep}, r2, g2, b2 FROM {prev})")
    return ",\n".join(ctes)


def band_statistics(px: DataFrame, value_col: str = "value") -> DataFrame:
    """gdalinfo -stats / GDALRasterBand::ComputeStatistics, integer
    path (gcore/gdalrasterband.cpp:6790-6804): exact integer moments
    (n, sum, sum-of-squares), mean = sum/n, and
    stddev = sqrt(n*sumsq - sum^2) / n — the reference does the
    difference in 128 bits (GDALUInt128), mirrored here with
    decimal(38,0) moments so a 10^10-pixel 8-bit band cannot overflow
    (n*s2 <= 65025*n^2 blows int64 past n ~ 3.8e8 — an ordinary
    single scene; the same decimal discipline as the gate's
    overview_suite band_stats tag). Returns one row
    (vmin, vmax, n, mean, stddev)."""
    v = F.col(value_col).cast("long")
    agg = px.agg(
        F.min(v).alias("vmin"), F.max(v).alias("vmax"),
        F.count(v).alias("n"), F.sum(v).alias("s"),
        F.sum((v * v).cast("decimal(38,0)")).alias("s2"),
    )
    n = F.col("n")
    m = (n.cast("decimal(38,0)") * F.col("s2")
         - F.col("s").cast("decimal(38,0)") * F.col("s"))
    return agg.select(
        "vmin", "vmax", "n",
        (F.col("s").cast("double") / n.cast("double")).alias("mean"),
        # reference op order: sqrt(double(128-bit difference)) / n
        (F.sqrt(m.cast("double")) / n.cast("double")).alias("stddev"),
    )


def band_histogram(px: DataFrame, *, vmin: float = -0.5, vmax: float = 255.5,
                   buckets: int = 256, include_out_of_range: bool = False,
                   value_col: str = "value") -> DataFrame:
    """GDALRasterBand::GetHistogram (gcore/gdalrasterband.cpp:4420-4434
    bucket rule; the -0.5..255.5 x 256 default is GDALGetDefaultHistogram
    / gdalrasterband.cpp:4106): bucket = floor((v - min) * scale) with
    scale = buckets / (max - min); out-of-range values clamp into the
    FIRST/LAST bucket when include_out_of_range else drop. Pure JVM
    column math; absent buckets come back with cnt 0 (the reference
    memsets the array). Returns (bucket, cnt) for bucket 0..buckets-1."""
    scale = float(buckets) / (float(vmax) - float(vmin))
    idx = F.floor((F.col(value_col).cast("double") - F.lit(float(vmin)))
                  * F.lit(scale))
    if include_out_of_range:
        b = (F.when(idx < 0, F.lit(0))
             .when(idx >= buckets, F.lit(buckets - 1)).otherwise(idx))
        d = px.select(b.cast("long").alias("bucket"))
    else:
        d = px.select(idx.cast("long").alias("bucket")).filter(
            (F.col("bucket") >= 0) & (F.col("bucket") < buckets))
    cnt = d.groupBy("bucket").agg(F.count("*").alias("_c"))
    allb = px.sparkSession.range(buckets).select(F.col("id").alias("bucket"))
    return allb.join(cnt, "bucket", "left").select(
        "bucket", F.coalesce(F.col("_c"), F.lit(0)).cast("long").alias("cnt"))


def checksum_image(band: DataFrame, *, width: int, value_col: str = "value",
                   x_col: str = "gx", y_col: str = "gy",
                   floating: bool = False) -> DataFrame:
    """GDALChecksumImage (alg/gdalchecksum.cpp:48): the reference's
    test currency — a 16-bit checksum over a raster window.

    Per pixel at (x, y): contrib = int(v) % primes[(y*W + x) % 11]
    (C truncated remainder — Spark's and DuckDB's `%` match), where
    int(v) for floating bands is GDALCopyWords' floor(v + 0.5) clamped
    to [-2147483647, 2147483647] (gdalchecksum.cpp:72-92). The C code
    masks the accumulator with & 0xffff once per line; because masking
    low 16 bits of a two's-complement int equals mod 65536 and mod is
    a homomorphism over +, the whole checksum is just
    pmod(sum(contrib), 65536) — a single JVM aggregate, fully
    order-independent, so it parallelizes as a plain map-side-combined
    SUM (no line ordering needed at any scale).
    Returns one row (checksum bigint)."""
    v = F.col(value_col).cast("double")
    if floating:
        vi = F.floor(v + F.lit(0.5))
        vi = F.greatest(F.lit(-2147483647.0), F.least(F.lit(2147483647.0), vi))
        vi = vi.cast("bigint")
    else:
        vi = F.col(value_col).cast("bigint")
        vi = F.greatest(F.lit(-2147483647), F.least(F.lit(2147483647), vi))
    prime = F.element_at(
        F.array(*[F.lit(p) for p in CHECKSUM_PRIMES]),
        ((F.col(y_col) * width + F.col(x_col)) % 11 + 1).cast("int"),
    )
    contrib = vi % prime
    return band.agg(
        F.pmod(F.sum(contrib), F.lit(65536)).cast("bigint").alias("checksum")
    )


def checksum_sql(inner_sql: str, *, width: int, value_sql: str = "value",
                 x_sql: str = "gx", y_sql: str = "gy",
                 floating: bool = False) -> str:
    """DuckDB twin of checksum_image over `inner_sql` rows."""
    primes = ", ".join(str(p) for p in CHECKSUM_PRIMES)
    if floating:
        vi = (f"CAST(greatest(-2147483647.0, least(2147483647.0, "
              f"floor(CAST({value_sql} AS DOUBLE) + 0.5))) AS BIGINT)")
    else:
        vi = (f"greatest(-2147483647, least(2147483647, "
              f"CAST({value_sql} AS BIGINT)))")
    prime = f"([{primes}])[(({y_sql} * {width} + {x_sql}) % 11) + 1]"
    return (
        f"SELECT CAST(((sum({vi} % {prime}) % 65536) + 65536) % 65536 "
        f"AS BIGINT) AS checksum FROM (\n{inner_sql}\n)"
    )


def color_relief(band: DataFrame,
                 ramp: list[tuple[float, int, int, int]]) -> DataFrame:
    """gdaldem color-relief (alg/gdaldem_lib.cpp
    GDALColorReliefGetColor, linear interpolation mode): per pixel,
    each channel is entry1 + ratio * (entry2 - entry1) with ratio =
    (v - v1)/(v2 - v1), then the reference's (int)(0.45 + x)
    truncation. Below the first / above the last entry clamps. Pure
    codegen CASE chain; ramp breakpoints are Python floats embedded
    identically in the SQL oracle. Adds (r, g, b)."""
    v = F.col("value").cast("double")

    def chan(idx: int):
        expr = F.when(v <= F.lit(float(ramp[0][0])), F.lit(float(ramp[0][idx])))
        for (v1, *c1), (v2, *c2) in zip(ramp, ramp[1:]):
            interp = (F.lit(float(c1[idx - 1]))
                      + ((v - F.lit(float(v1))) * F.lit(float(c2[idx - 1] - c1[idx - 1])))
                      / F.lit(float(v2 - v1)))
            expr = expr.when(v <= F.lit(float(v2)), interp)
        expr = expr.otherwise(F.lit(float(ramp[-1][idx])))
        return F.floor(F.lit(0.45) + expr).cast("int")

    return band.withColumn("r", chan(1)).withColumn("g", chan(2)) \
               .withColumn("b", chan(3))


def color_relief_sql(v_expr: str,
                     ramp: list[tuple[float, int, int, int]]) -> list[str]:
    """DuckDB twins of color_relief's three channel expressions (same
    literal breakpoints, same op order)."""
    out = []
    for idx in (1, 2, 3):
        whens = [f"WHEN ({v_expr}) <= {float(ramp[0][0])!r} "
                 f"THEN {float(ramp[0][idx])!r}"]
        for e1, e2 in zip(ramp, ramp[1:]):
            v1, v2 = float(e1[0]), float(e2[0])
            c1, c2 = float(e1[idx]), float(e2[idx])
            whens.append(
                f"WHEN ({v_expr}) <= {v2!r} THEN ({c1!r} "
                f"+ ((({v_expr}) - {v1!r}) * {float(c2 - c1)!r}) / {float(v2 - v1)!r})"
            )
        case = ("CASE " + " ".join(whens)
                + f" ELSE {float(ramp[-1][idx])!r} END")
        out.append(f"CAST(floor(0.45 + ({case})) AS INTEGER)")
    return out


def reclassify(band: DataFrame, breaks: list[tuple[int, int, int]],
               default: int | None = None) -> DataFrame:
    """Raster reclassify (the `gdal raster reclassify` pipeline step /
    gdalalg_raster_reclassify semantics): map [lo, hi] value ranges to
    class codes via one chained CASE — whole-stage codegen, zero
    Python. `breaks` = [(lo, hi, class)], first match wins; unmatched
    pixels keep their value (default None) or take `default`."""
    expr = None
    for lo, hi, cls in breaks:
        cond = (F.col("value") >= lo) & (F.col("value") <= hi)
        expr = F.when(cond, F.lit(cls)) if expr is None else expr.when(cond, F.lit(cls))
    expr = expr.otherwise(F.col("value") if default is None else F.lit(default))
    return band.withColumn("value", expr.cast("bigint"))


def fill_nodata(band: DataFrame, *, nodata, max_dist: int = 3) -> DataFrame:
    """Fill nodata pixels from surrounding valid pixels
    (alg/gdalfillnodata.cpp GDALFillNodata semantics re-derived for
    dataflow: inverse-distance-squared weighted mean of the valid
    pixels within `max_dist` chebyshev, instead of the reference's
    sequential 4-direction scan — same intent, deterministic and
    distributed: valid pixels explode to the bounded window, one
    groupBy per nodata pixel; the weighted fold is ordered by source
    pixel id so the double sum is engine-exact).

    Nodata pixels with no valid pixel in range stay absent."""
    spark = band.sparkSession
    r = max_dist
    offs = (
        spark.range(-r, r + 1).select(F.col("id").alias("_dx"))
        .crossJoin(spark.range(-r, r + 1).select(F.col("id").alias("_dy")))
        .filter(~((F.col("_dx") == 0) & (F.col("_dy") == 0)))
    )
    valid = band.filter(F.col("value") != nodata)
    holes = band.filter(F.col("value") == nodata).select("gx", "gy")
    served = (
        valid.crossJoin(F.broadcast(offs))
        .select(
            (F.col("gx") + F.col("_dx")).alias("tgx"),
            (F.col("gy") + F.col("_dy")).alias("tgy"),
            # (gy, gx) struct key, not gy*W+gx: no width assumption, so
            # the documented engine-exact fold order holds for rasters
            # of any dimensions (a linearized key would collide past
            # its hardcoded width)
            F.col("gy").alias("_sy"),
            F.col("gx").alias("_sx"),
            (F.col("_dx") * F.col("_dx") + F.col("_dy") * F.col("_dy")).alias("_d2"),
            F.col("value").alias("_v"),
        )
    )
    cand = holes.join(
        served, (F.col("gx") == F.col("tgx")) & (F.col("gy") == F.col("tgy"))
    )
    agg = cand.groupBy("gx", "gy").agg(
        F.sort_array(F.collect_list(F.struct("_sy", "_sx", "_d2", "_v"))).alias("pts")
    )
    num = F.expr("aggregate(pts, 0D, (a, s) -> a + s._v / CAST(s._d2 AS DOUBLE))")
    den = F.expr("aggregate(pts, 0D, (a, s) -> a + 1.0 / CAST(s._d2 AS DOUBLE))")
    filled = agg.select("gx", "gy", (num / den).alias("value"))
    keep = valid.select("gx", "gy", F.col("value").cast("double").alias("value"))
    return keep.unionByName(filled)


def polygonize_ccl(pixels: DataFrame, *, width: int, tile: int = 64,
                   connect: int = 4) -> DataFrame:
    """Raster->vector polygonize (alg/polygonize.cpp:73): one row per
    connected component — (label, value, n_pixels), label = min global
    pixel id (canonical). connect=8 ≙ the 8CONNECTED=8 option
    (alg/polygonize.cpp:482)."""
    final = label_pixels(pixels, width=width, tile=tile, connect=connect)
    return (
        final.groupBy("comp", "value")
        .agg(F.count("*").alias("n_pixels"), F.min("pid").alias("label"))
        .select("label", "value", "n_pixels")
    )
