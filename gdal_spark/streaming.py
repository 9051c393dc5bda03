"""Structured Streaming surface: the tile-assignment / cell-assignment
pipeline over a document stream.

The reference is a batch engine (SURVEY §2.13 — no streaming
operators), so this is an ENGINE EXTENSION, not parity: the same
codegen'd tile/cell projections compose unchanged onto a streaming
DataFrame (readStream -> withColumn chain -> writeStream), because
tile assignment is stateless per row. The stateful piece (streaming
dedup) keeps per-key state with applyInPandasWithState.

Use cases: continuous ingestion of new documents into the tile-indexed
Iceberg table; the checkpointLocation gives exactly-once appends —
complementing the batch-side manifest resume (checkpoint.py).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import tiling
from .sources import docs


def docs_rate_stream(spark: SparkSession, rows_per_second: int = 1000) -> DataFrame:
    """Synthetic interleaved-doc stream from the rate source: each tick
    becomes a doc with the same derived geometry/spans as the batch
    generator (sources.docs)."""
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    i = F.col("value")
    return rate.select(
        F.col("timestamp").alias("ts"),
        F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 12, "0")).alias("doc_id"),
        i.alias("doc_index"),
        docs.spans_col(i).alias("spans"),
        docs.lon_col(i).alias("lon"),
        docs.lat_col(i).alias("lat"),
    )


def stream_tile_assign(stream_df: DataFrame, zoom: int = 8) -> DataFrame:
    """Stateless tile assignment on a stream — identical column math to
    the batch operator (operators.tiling.assign_tiles)."""
    return tiling.assign_tiles(stream_df, zoom=zoom)


def stream_dedup_stateful(stream_df: DataFrame, *, timeout_ms: int = 600000) -> DataFrame:
    """CUSTOM STATEFUL operator via applyInPandasWithState: exact
    streaming dedup by content key — only the FIRST document per key
    passes; later duplicates are counted into the emitted row's
    n_dups. State = (first_doc_index, n_seen) per key with a
    processing-time TTL (the streaming analog of the batch
    exact_dedup groupBy; state store replaces the shuffle-wide
    group).

    Input needs (key string, doc_index long, ts timestamp). Emits one
    row per key per batch in which that key appeared:
    (key, first_doc_index, n_seen_total, is_new)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = ("key string, first_doc_index bigint, n_seen_total bigint, "
                  "is_new boolean")
    state_schema = "first_doc_index bigint, n_seen bigint"

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        n_batch = len(rows)
        batch_min = int(rows["doc_index"].min()) if n_batch else 0
        if state.exists:
            first, seen = state.get
            is_new = False
        else:
            first, seen = batch_min, 0
            is_new = True
        seen += n_batch
        state.update((int(first), int(seen)))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame({
            "key": [key[0]],
            "first_doc_index": [int(first)],
            "n_seen_total": [int(seen)],
            "is_new": [is_new],
        })

    return (
        stream_df.groupBy("key")
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def run_to_memory(stream_out: DataFrame, *, name: str, mode: str = "append"):
    """Start the stream into an in-memory table (tests / smoke); caller
    stops the returned query."""
    return (
        stream_out.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )


def stream_spatial_join(stream_df: DataFrame, cover: DataFrame, *,
                        res: int = 6,
                        keep_point_cols: list[str] | None = None) -> DataFrame:
    """Stream-static spatial join: the batch cell-bucketed PIP join
    (operators.spatial_join, broadcast strategy) composed unchanged
    onto a streaming DataFrame. Every stage is stateless — cell
    assignment is codegen column math, the polygon side is a static
    broadcast (the band table, or the ring dict on dense covers), and
    the exact PIP test is per-row — so the same plan
    that runs the batch flagship runs continuously with exactly-once
    sink semantics from the checkpoint. As in batch, the static side is
    collected once per cover object and pinned for the stream's
    lifetime (reference a fresh cover to pick up polygon updates)."""
    from .operators.spatial_join import spatial_join_points_in_polygons

    return spatial_join_points_in_polygons(
        stream_df, cover, res=res, strategy="broadcast",
        keep_point_cols=keep_point_cols,
    )


def stream_tile_pngs(stream_px: DataFrame, out_dir: str, *,
                     tile_size: int, bands: int = 4,
                     driver: str = "png", jpeg_quality: int = 85,
                     checkpoint: str | None = None):
    """Continuous {z}/{x}/{y}.png production: the batch PNG tile sink
    (io.write_tile_pngs) composed per micro-batch via foreachBatch —
    each trigger re-renders exactly the tiles present in that batch,
    atomically overwriting their files (last-writer-wins per tile, the
    gdal2tiles re-render semantics). Returns the StreamingQuery.

    stream_px: streaming (tz, tx, ty, band, pos, value) pixel rows."""
    from . import io as gio

    def do_batch(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        m = gio.write_tile_pngs(batch_df, out_dir, tile_size=tile_size,
                                bands=bands, driver=driver,
                                jpeg_quality=jpeg_quality)
        # the manifest is discarded per batch: release its cache slot
        # immediately instead of accumulating one per trigger
        m.unpersist()

    w = stream_px.writeStream.foreachBatch(do_batch).outputMode("append")
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
