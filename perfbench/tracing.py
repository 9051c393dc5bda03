"""Traced reps: spans around each layer and the counts behind them.

Spark is lazy, so a traced rep forces each layer's output at its
boundary: the span of layer L runs L and every layer before it, and
L's self time is its span minus the span of the prefix it consumed.
Counts come from the executed (AQE) plan of each forced action; job
counts come from the span's Spark job group. Layers that the traced
workload's pipeline does not use are measured by side reps of the
workloads that do, on the same seed, so every per-layer metric is a
measured number.
"""
from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

import probes as P
import workloads as W


class Tracer:
    """Collects spans (name, start, end, parent, rep, job count) in memory."""

    def __init__(self, spark):
        self.spark = spark
        self.rep = 0
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None = None):
        rec = {"name": name, "parent": parent, "rep": self.rep}
        with P.JobGroup(self.spark, name) as g:
            rec["start"] = time.perf_counter()
            yield rec
            rec["end"] = time.perf_counter()
        rec["jobs"] = len(g.jobs)
        self.spans.append(rec)

    def dur(self, name: str) -> float:
        """Median duration of span `name` over the traced reps."""
        ds = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(ds) if ds else 0.0

    def self_time(self, name: str) -> float:
        parent = next((s["parent"] for s in self.spans if s["name"] == name), None)
        own = self.dur(name)
        return max(0.0, own - self.dur(parent)) if parent else own


def _scan(tr, df, cols):
    """io.scan span: read and hash the columns the workload consumes."""
    with tr.span("io.scan") as rec:
        _, sink = W.spark_sink(df.select(*cols), "0")
        rec["scan_bytes"] = P.plan_sum(P.plan_nodes(sink), "FileSourceScan", "filesSize")


def _trace_join_tile(wl, spark, fx, tr):
    _scan(tr, spark.read.parquet(wl.docs), ["doc_id", "doc_index", "spans", "lon", "lat"])
    with tr.span("spatial_join", parent="io.scan") as rec:
        (pairs, _), sink = W.spark_sink(wl.joined(spark, fx), "0")
        nodes = P.plan_nodes(sink)
        rec.update(
            pairs=pairs,
            candidates=P.plan_sum(nodes, "BroadcastHashJoin", "numOutputRows",
                                  probe_side_only=True),
            python_ms=P.plan_sum(nodes, "EvalPython", "pythonTotalTime"),
            python_bytes_sent=P.plan_sum(nodes, "EvalPython", "pythonDataSent"),
            broadcast_bytes=P.plan_sum(nodes, "BroadcastExchange", "dataSize"))
    with tr.span("tiling.assign", parent="spatial_join"):
        fp, _ = W.spark_sink(*wl.output(spark, fx))
    return fp


def _trace_knn(wl, spark, fx, tr):
    _scan(tr, spark.read.parquet(wl.docs), ["doc_index", "lon", "lat"])
    before = P.persistent_rdds(spark)
    with tr.span("knn", parent="io.scan") as rec:
        fp, _ = W.spark_sink(*wl.output(spark, fx))
    # RDDs the call persisted and left persisted (its result included)
    rec["cached_rdds_left"] = len(P.persistent_rdds(spark) - before)
    return fp


def _trace_pyramid_write(wl, spark, fx, tr):
    from gdal_spark import io

    _scan(tr, spark.read.parquet(wl.docs), ["lon", "lat"])
    with tr.span("tiling.pyramid", parent="io.scan") as rec:
        _, sink = W.spark_sink(wl.pyramid(spark), "0")
        nodes = P.plan_nodes(sink)
        rec.update(
            exchanges=sum(c == "ShuffleExchangeExec" for c, _, _ in nodes),
            shuffle_bytes=P.plan_sum(nodes, "ShuffleExchange", "shuffleBytesWritten"),
            spill_bytes=P.plan_sum(nodes, "", "spillSize"))
    # the write span starts from the cached pyramid: a single side rep
    # gives no stable difference between two spans that both recompute it
    pyr = wl.pyramid(spark).persist()
    pyr.count()
    with tr.span("io.write") as rec:
        io.write_range_partitioned(pyr, wl.out)
    pyr.unpersist()
    files = [os.path.join(d, f) for d, _, fs in os.walk(wl.out) for f in fs
             if f.endswith(".parquet")]
    rec.update(files_written=len(files),
               bytes_written=sum(os.path.getsize(f) for f in files))
    return W.spark_sink(spark.read.parquet(wl.out), W.PYRAMID_MIX)[0]


TRACE_REPS = {"join_tile": _trace_join_tile, "knn": _trace_knn,
              "pyramid_write": _trace_pyramid_write}


def pip_ns_per_pt(seed: int, n: int = 20_000) -> float:
    """kernels.pip.point_in_ring on a seeded sample of points in the
    bounding box of one 4096-vertex ring; median of five calls."""
    from gdal_spark.kernels.pip import point_in_ring
    from gdal_spark.sources.polygons import scaled_ring_np

    ring = scaled_ring_np(seed % 64, 1.0, nv_override=W.PIP_RING_NV)
    rng = np.random.default_rng(seed)
    xs = rng.uniform(ring[:, 0].min(), ring[:, 0].max(), n)
    ys = rng.uniform(ring[:, 1].min(), ring[:, 1].max(), n)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        point_in_ring(xs, ys, ring)
        times.append(time.perf_counter() - t)
    return statistics.median(times) / n * 1e9


def _span_median(tr, name, key):
    """Median of count `key` recorded on span `name` over the reps."""
    vals = [s[key] for s in tr.spans if s["name"] == name and key in s]
    return statistics.median(vals) if vals else 0.0


def _layers(tr) -> dict:
    """Per-layer metrics of the spans `tr` recorded (a layer without
    spans gives none)."""
    names = {s["name"] for s in tr.spans}
    out = {}
    if "io.scan" in names:
        out.update({"io.scan_s": tr.dur("io.scan"),
                    "io.scan_bytes": _span_median(tr, "io.scan", "scan_bytes")})
    if "spatial_join" in names:
        cand = _span_median(tr, "spatial_join", "candidates")
        pairs = _span_median(tr, "spatial_join", "pairs")
        out.update({
            "spatial_join.s": tr.self_time("spatial_join"),
            "spatial_join.candidates": cand,
            "spatial_join.pairs": pairs,
            "spatial_join.hit_ratio": pairs / cand if cand else 0.0,
            "spatial_join.python_ms": _span_median(tr, "spatial_join", "python_ms"),
            "spatial_join.python_bytes_sent": _span_median(tr, "spatial_join",
                                                           "python_bytes_sent"),
            "spatial_join.broadcast_bytes": _span_median(tr, "spatial_join",
                                                         "broadcast_bytes"),
        })
    if "tiling.assign" in names:
        out["tiling.assign_s"] = tr.self_time("tiling.assign")
    if "tiling.pyramid" in names:
        out.update({
            "tiling.pyramid_s": tr.self_time("tiling.pyramid"),
            "tiling.exchanges": _span_median(tr, "tiling.pyramid", "exchanges"),
            "tiling.shuffle_bytes": _span_median(tr, "tiling.pyramid", "shuffle_bytes"),
            "tiling.spill_bytes": _span_median(tr, "tiling.pyramid", "spill_bytes"),
        })
    if "io.write" in names:
        out.update({"io.write_s": tr.self_time("io.write"),
                    "io.bytes_written": _span_median(tr, "io.write", "bytes_written"),
                    "io.files_written": _span_median(tr, "io.write", "files_written")})
    if "knn" in names:
        out.update({"knn.s": tr.self_time("knn"),
                    "knn.jobs": _span_median(tr, "knn", "jobs"),
                    "knn.cached_rdds_left": _span_median(tr, "knn", "cached_rdds_left")})
    return out


def _cover_layers(fx, build_s: float) -> dict:
    if "cover" not in fx:
        return {}
    return {"sources.cover_s": build_s, "sources.cover_rows": fx["cover"].count()}


def _side_layers(wl, spark, rep) -> tuple[dict, list]:
    """Layers outside `wl`'s own pipeline, measured on the same seed:
    each other workload builds its fixtures, runs one warm-up rep and
    one traced rep (on SIDE_ROWS docs where it sets them, else on
    `wl`'s). Both reps are checked like any other. Returns the layer
    metrics and the spans."""
    out, spans = {}, []
    for cls in W.WORKLOADS.values():
        if cls.name == wl.name:
            continue
        other = cls(wl.work, wl.seed, min(wl.n, W.SIDE_ROWS.get(cls.name, wl.n)))
        t = time.perf_counter()
        ofx = other.fixtures(spark)
        out.update(_cover_layers(ofx, time.perf_counter() - t))
        other.inputs(spark)
        tr = Tracer(spark)
        rep("side-warmup", lambda: other.run(spark, ofx), other)
        rep("side-traced", lambda: TRACE_REPS[other.name](other, spark, ofx, tr), other)
        out.update(_layers(tr))
        spans += tr.spans
    return out, spans


def traced(wl, spark, fx, rep, seconds: float, out_dir: str, untraced_s: float,
           seed: int, cover_s: float):
    """Traced reps for `seconds` (at least one), the layers of the other
    workloads on the same input, then a warm-up and a timed rep at
    local[1]; the spans are written to `out_dir`. Returns (per-layer
    metrics, the live SparkSession)."""
    from gdal_spark.session import get_spark

    tr = Tracer(spark)
    t0 = time.perf_counter()
    while tr.rep == 0 or time.perf_counter() - t0 < seconds:
        rep("traced", lambda: TRACE_REPS[wl.name](wl, spark, fx, tr))
        tr.rep += 1
    traced_s = statistics.median(r["s"] for r in rep.log if r["kind"] == "traced" and "s" in r)

    layers, side_spans = _side_layers(wl, spark, rep)
    layers.update(_layers(tr))
    layers.update(_cover_layers(fx, cover_s))
    layers["kernels.pip_ns_per_pt"] = pip_ns_per_pt(seed)
    layers["run.trace_overhead"] = traced_s / untraced_s if untraced_s else 0.0

    # single-threaded baseline: the same pipeline at local[1]
    spark.stop()
    spark = get_spark("perfbench-local1", master="local[1]")
    fx = wl.fixtures(spark)
    rep.spark, rep.fx = spark, fx
    rep("local1-warmup")  # compare warm against warm
    t1 = rep("local1")
    layers["run.speedup_1_to_n"] = t1 / untraced_s if t1 and untraced_s else 0.0

    with open(os.path.join(out_dir, f"trace_{wl.name}_s{seed}.json"), "w") as f:
        json.dump(tr.spans + side_spans, f)
    return layers, spark
