"""Bench-only query constructors shared by tools/bench_isolated.py.

The driver-contract registry (`__spark_entry__.queries()`) is capped at
50 oracle-gated slots, so bench-only workloads — the headline
north-star pipeline and the skew/ablation arms — live here instead.
Each entry has the same (spark, sf_dir) -> DataFrame signature as a
registry query, so the isolated harness treats both uniformly.

Entries:
  headline_join_tile         the north-star workload (spatial join +
                             tile assignment over the synthesized
                             interleaved-doc table), default strategy
                             (band-table exact stage) — same plan
                             bench.py times
  spatial_join_bigpoly_grouped  4096-vertex cover through the
                             no-broadcast grouped cogroup
"""
from __future__ import annotations

import os


def _doc_path(spark, n_docs: int) -> str:
    """Same materialized synthetic-doc cache bench.py uses."""
    from gdal_spark.sources import docs

    cache = os.environ.get("SPARK_GRAFT_BENCH_CACHE", "/root/repo/.bench_cache")
    p = os.path.join(cache, f"docs_{n_docs}.parquet")
    if not os.path.exists(p):
        docs.synth_docs(spark, n_docs, partitions=64).write.mode(
            "overwrite").parquet(p)
    return p


def _headline(spark, sf_dir):
    from gdal_spark.operators import tiling
    from gdal_spark.operators.spatial_join import (
        spatial_join_points_in_polygons,
    )
    from gdal_spark.sources import polygons

    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "2000000"))
    d = spark.read.parquet(_doc_path(spark, n_docs))
    cov = polygons.countries64_cover(spark, res=6)
    joined = spatial_join_points_in_polygons(
        d, cov, res=6,
        keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"],
    )
    tiled = tiling.assign_tiles(joined, zoom=12)
    return tiled.select(
        "doc_id", "spans", "poly_id", "tx", "ty_xyz", "quadkey")


def _bigpoly_grouped(spark, sf_dir):
    from gdal_spark.operators.spatial_join import (
        spatial_join_points_in_polygons,
    )
    from gdal_spark.sources import polygons

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    dense = polygons.countries64_dense_cover(spark, res=6, nv=4096)
    pts = (
        spark.read.parquet(_doc_path(spark, 2000000))
        .limit(100_000).repartition(cpus)
    )
    return spatial_join_points_in_polygons(
        pts, dense, res=6, strategy="shuffle", keep_point_cols=["doc_id"],
    )


def _rpc_dem(variant: str):
    """RPC-DEM inverse over a 200k-point scene: 'broadcast' ships the
    DEM chip in the UDF closure; 'gather' runs the no-broadcast
    tile-join chip gather (the continent-DEM scale path)."""
    def run(spark, sf_dir):
        from pyspark.sql import functions as F

        from gdal_spark.operators import rpc_warp as R

        rpc = R.rpc_fixture()
        dem = R.dem_fixture()
        n = 200_000
        pts = spark.range(n).select(
            F.col("id"),
            (F.lit(2.21) + (F.col("id") % 400).cast("double")
             * F.lit(0.00045)).alias("lon"),
            (F.lit(48.78) + ((F.col("id") / 400).cast("bigint") % 300)
             .cast("double") * F.lit(0.00047)).alias("lat"))
        fwd = R.apply_rpc_forward_dem(pts, rpc, dem).select(
            "id", "pixel", "line")
        if variant == "broadcast":
            return R.apply_rpc_inverse_dem(fwd, rpc, dem).select(
                "id", "lon", "lat")
        tiles = R.dem_tiles_df(spark, dem, tile=32)
        return R.apply_rpc_inverse_dem_gather(fwd, rpc, dem, tiles, tile=32)
    return run


EXTRA = {
    "headline_join_tile": _headline,
    "spatial_join_bigpoly_grouped": _bigpoly_grouped,
    "rpc_dem_inverse_broadcast": _rpc_dem("broadcast"),
    "rpc_dem_inverse_gather": _rpc_dem("gather"),
}
