"""Tile assignment + pyramid reduction — the gdal2tiles operator pair.

- assign_tiles: one codegen'd projection per zoom (reference formulas
  gdal2tiles.py:414-530 via gdal_spark.functions.tiles) — tile
  assignment of 10^12 docs is a scan + projection, zero shuffle.
- pyramid: per-zoom-descending groupBy(parent) reduction, the Spark
  re-derivation of gdal2tiles' overview build (each parent tile from
  its <=4 children, gdal2tiles.py:1471-1536, 1666-1702). One shuffle
  stage per zoom, each 4x smaller than the last — the same geometric
  work decay as the reference's loop, but distributed.

Partitioning stance at scale: tile tables are written partitioned by
zoom and range-partitioned by quadkey prefix, so (a) a zoom's tiles are
one partition subtree, (b) spatially adjacent tiles are co-located
(quadkey prefix = Z-order prefix), and (c) the next pyramid reduction's
shuffle is largely map-side local because parent quadkey is a prefix of
child quadkey.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import tiles as TF


def assign_tiles(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Attach (tx, ty_tms, ty_xyz, quadkey) at `zoom` (clamped to grid)."""
    return TF.tile_columns(points, lon=lon, lat=lat, zoom=zoom, clamped=True)


def tile_counts(points: DataFrame, zoom: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Base-zoom tile histogram: (zoom, quadkey, cnt)."""
    return (
        assign_tiles(points, zoom, lon, lat)
        .groupBy("quadkey")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit(zoom).alias("zoom"), "quadkey", "cnt")
    )


def pyramid_counts(points: DataFrame, max_zoom: int, min_zoom: int = 0,
                   lon: str = "lon", lat: str = "lat") -> DataFrame:
    """Full count pyramid from max_zoom down to min_zoom.

    Parent quadkey = child quadkey minus its last digit — so each
    reduction is groupBy(substring) + sum, exactly the reference's
    4-children-per-parent merge (gdal2tiles.py:1666-1702) with count
    as the merge function. Returns union over zooms of
    (zoom, quadkey, cnt).
    """
    base = tile_counts(points, max_zoom, lon, lat)
    levels = [base]
    cur = base
    for z in range(max_zoom - 1, min_zoom - 1, -1):
        cur = (
            cur.select(F.expr(f"substring(quadkey, 1, {z})").alias("quadkey"), "cnt")
            .groupBy("quadkey")
            .agg(F.sum("cnt").alias("cnt"))
            .select(F.lit(z).alias("zoom"), "quadkey", "cnt")
        )
        levels.append(cur)
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out


def spatial_partition(df: DataFrame, *, res: int = 10, lon: str = "lon",
                      lat: str = "lat", num_partitions: int | None = None) -> DataFrame:
    """Range-partition rows by Z-order (Morton) code so spatially
    adjacent rows land in the same executor partition — the analog of
    the reference's quadtree index (port/cpl_quad_tree.cpp) as a
    physical layout. Downstream cell-joins and pyramid reductions then
    shuffle mostly locally, and min/max zorder per parquet file gives
    coarse spatial file pruning (the Iceberg sort-order strategy).

    The Z-order column expression interleaves 16 bits of tx/ty via the
    shift-or ladder (kernels.cells.zorder_code twin) — still plain
    codegen column math."""
    def spread(c: str) -> str:
        c = f"({c} & 65535)"
        for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
            c = f"(({c} | shiftleft({c}, {sh})) & {mask})"
        return c

    # the cell coords are columns first: spread() repeats its input 32 times
    txc, tyc = TF.cell_xy(TF.quote(lon), TF.quote(lat), res)
    out = (df.withColumns({"_ztx": F.expr(txc), "_zty": F.expr(tyc)})
           .withColumn("zorder", F.expr(f"{spread('_ztx')} | shiftleft({spread('_zty')}, 1)"))
           .drop("_ztx", "_zty"))
    if num_partitions:
        return out.repartitionByRange(num_partitions, F.col("zorder"))
    return out.repartitionByRange(F.col("zorder"))


def quadkey_to_xyz(df: DataFrame, quadkey_col: str = "quadkey") -> DataFrame:
    """Recover (zoom, tx, ty_xyz) from a quadkey string — digit d at
    position i contributes bit (d&1) to tx and bit (d>>1) to ty
    (inverse of gdal2tiles.py:517-530)."""
    qk = F.col(quadkey_col)
    z = F.length(qk)
    # aggregate over positions via expr (positions are data-dependent)
    # NB: guard z=0 — Spark's sequence(1, 0) yields a DESCENDING [1,0],
    # not an empty array, so build the position list with a when().
    seq = f"if(length({quadkey_col}) = 0, array(), sequence(1, length({quadkey_col})))"
    tx = F.expr(
        f"aggregate({seq}, 0L, "
        f"(acc, i) -> acc * 2 + (ascii(substring({quadkey_col}, i, 1)) - 48) % 2)"
    )
    ty = F.expr(
        f"aggregate({seq}, 0L, "
        f"(acc, i) -> acc * 2 + cast((ascii(substring({quadkey_col}, i, 1)) - 48) / 2 as bigint))"
    )
    return (
        df.withColumn("zoom", z)
        .withColumn("tx", tx)
        .withColumn("ty_xyz", ty)
    )
