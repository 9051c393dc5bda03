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
                             (band-table exact stage) — bench.py's
                             `headline` plan
  spatial_join_bigpoly_grouped  4096-vertex cover through the
                             no-broadcast grouped cogroup
"""
from __future__ import annotations

from bench import bigpoly, headline


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
    "headline_join_tile": headline,
    "spatial_join_bigpoly_grouped": bigpoly("shuffle"),
    "rpc_dem_inverse_broadcast": _rpc_dem("broadcast"),
    "rpc_dem_inverse_gather": _rpc_dem("gather"),
}
