"""kNN via iterative cell-ring expansion — the grow-the-search-radius
loop of the reference's quadtree neighbor search
(/root/reference/alg/gdalgrid.cpp:896-909) re-derived as Spark joins.

Metric: squared euclidean in WebMercator meters (the cell grid is an
exact square grid in that space, so the ring-expansion stopping rule is
a clean geometric bound). Ties broken by smaller point id — total order,
deterministic across engines.

Stopping rule: after exploring every cell within Chebyshev cell-distance
`s` of the query's cell, any unexplored point is at distance
>= s * cell_width (the query may sit on its cell's edge; an unexplored
cell at Chebyshev >= s+1 is >= s full cell widths away). So a query is
DONE once its current kth-best distance <= s * cell_width.

Plan shape: the query projection is collected once (Spark computes its
mercator and cell columns, so every distance is a Spark double). The
loop state — pending queries and their carried top-k, |Q|*k rows — lives
on the driver, and each round runs ONE Spark action:
  (pending query, annulus cell)   [driver-built Arrow local relation]
  points(cell) --broadcast-join cell--> d2
               --union carried top-k--> row_number per query (d2, id) <= k
               --collect-->  driver compares each kth d2 with the bound
Queries are few relative to points (the gdalgrid model: one output grid
node per cell vs millions of scattered points), so the query side is
always the broadcast side and the big point table is NEVER shuffled or
cached — only scanned, once per round, with cell-prefilter pushdown.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tiles as TF

ORIGIN_SHIFT = TF.ORIGIN_SHIFT


def _cell_xy(lon, lat, res: int):
    """(cx, cy) integer cell coords (XYZ orientation) at `res`."""
    lim = 2**res - 1
    tx, ty_tms = TF.tms_tile(lon, lat, res)
    return TF.clamp(tx, 0, lim), TF.clamp(TF.xyz_ty(ty_tms, res), 0, lim)


def _merc_cells(df: DataFrame, id_col: str, lon: str, lat: str, res: int, p: str) -> DataFrame:
    """(_{p}id, _{p}mx, _{p}my, _{p}cx, _{p}cy): id, mercator meters, cell."""
    cx, cy = _cell_xy(F.col(lon), F.col(lat), res)
    return df.select(
        F.col(id_col).alias(f"_{p}id"),
        TF.merc_mx(F.col(lon)).alias(f"_{p}mx"),
        TF.merc_my(F.col(lat)).alias(f"_{p}my"),
        cx.alias(f"_{p}cx"),
        cy.alias(f"_{p}cy"),
    )


def knn_join(
    points: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    res: int | None = None,
    point_id: str = "point_id",
    query_id: str = "query_id",
    lon: str = "lon",
    lat: str = "lat",
    max_rounds: int | None = None,
) -> DataFrame:
    """Exact kNN of each query against `points`.

    Returns (query_id, point_id, rank) with rank 1..k ordered by squared
    mercator-meter distance, ties by point_id; the id columns keep their
    input types and rank is int. Both inputs need lon/lat columns named
    per the kw args. `res=None` derives the cell resolution from
    `points.count()` and `k`. If `max_rounds` stops the
    loop early, only the finished queries are returned.

    Caching: the operator owns no cache. `points` is evaluated once for
    the count (when `res` is None) and once per round, `queries` once; a
    caller with an expensive upstream plan persists it first.
    """
    spark = points.sparkSession
    if res is None:  # about 6k points per cell (4^res cells), clamped to [1, 16]
        res = min(16, max(1, round(math.log(max(points.count(), 1) / (6 * k), 4))))
    w = 2.0 * ORIGIN_SHIFT / float(2**res)
    lim = 2**res - 1
    if max_rounds is None:
        max_rounds = lim + 2

    pts = _merc_cells(points, point_id, lon, lat, res, "p")
    qsdf = _merc_cells(queries, query_id, lon, lat, res, "q")
    qf, pf = qsdf.schema["_qid"], pts.schema["_pid"]
    pending = qsdf.toPandas()
    qcells_schema = T.StructType(  # (_qid, _qmx, _qmy) + the ring cell
        qsdf.schema.fields[:3] + [T.StructField(c, T.LongType(), False) for c in ("_cx", "_cy")])
    topk_schema = T.StructType([qf, pf, T.StructField("_d2", T.DoubleType(), False)])
    win = Window.partitionBy("_qid").orderBy(F.col("_d2").asc(), F.col("_pid").asc())
    d2 = ((F.col("_pmx") - F.col("_qmx")) * (F.col("_pmx") - F.col("_qmx"))
          + (F.col("_pmy") - F.col("_qmy")) * (F.col("_pmy") - F.col("_qmy")))

    finished: list[pd.DataFrame] = []
    carried = pd.DataFrame()  # earlier rounds' top-k of the still-pending queries
    s, prev_s = 1, -1
    for _ in range(max_rounds):
        if pending.empty:
            break
        # ONLY the new annulus: cells with Chebyshev distance in
        # (prev_s, s] of the query cell; nearer cells' survivors ride
        # forward in `carried`, so no candidate is ever recomputed.
        r = np.arange(-min(s, lim), min(s, lim) + 1)  # wider is off-grid for all
        dx, dy = (a.ravel() for a in np.meshgrid(r, r))
        ring = np.maximum(np.abs(dx), np.abs(dy)) > prev_s
        dx, dy = dx[ring], dy[ring]
        qc = pending.loc[pending.index.repeat(len(dx))].assign(
            _cx=(pending["_qcx"].to_numpy()[:, None] + dx).ravel(),
            _cy=(pending["_qcy"].to_numpy()[:, None] + dy).ravel())
        qc = qc[qc["_cx"].between(0, lim) & qc["_cy"].between(0, lim)]
        qcells = spark.createDataFrame(qc[qcells_schema.names], qcells_schema)
        cand = pts.join(
            F.broadcast(qcells),
            (pts["_pcx"] == qcells["_cx"]) & (pts["_pcy"] == qcells["_cy"]),
        ).select("_qid", "_pid", d2.alias("_d2"))
        if not carried.empty:
            cand = cand.unionByName(spark.createDataFrame(carried, topk_schema))
        topk = (cand.withColumn("_rank", F.row_number().over(win))
                .filter(F.col("_rank") <= k).toPandas())
        # done <=> k candidates found AND kth distance <= (s*w)^2,
        # or the whole grid has been explored
        if s > lim:
            done = pending["_qid"]
        else:
            st = topk.groupby("_qid")["_d2"].agg(["size", "max"])
            done = st.index[(st["size"] >= k) & (st["max"] <= (s * w) ** 2)]
        fin = topk["_qid"].isin(done)
        finished.append(topk[fin])
        carried = topk.loc[~fin, topk_schema.names]
        pending = pending[~pending["_qid"].isin(done)]
        prev_s, s = s, 2 * s  # geometric growth: few rounds even for isolated queries

    out_schema = T.StructType([
        T.StructField(query_id, qf.dataType, qf.nullable),
        T.StructField(point_id, pf.dataType, pf.nullable),
        T.StructField("rank", T.IntegerType(), False),
    ])
    out = (pd.concat(finished)[["_qid", "_pid", "_rank"]] if finished
           else pd.DataFrame(columns=["_qid", "_pid", "_rank"]))
    return spark.createDataFrame(out.set_axis(out_schema.names, axis=1), out_schema)
