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
DONE once its current kth-best distance <= s * cell_width. The rule
holds at every cell size, so `res` only sets the speed: each level too
coarse puts 4x the candidates in a round, each level too fine costs at
most one round more (and 4x the annulus cells the driver builds).

Plan shape: the query projection is collected once (Spark computes its
mercator and cell columns, so every distance is a Spark double). The
loop state — pending queries and their carried top-k, |Q|*k rows — lives
on the driver, and each round runs ONE Spark action:
  (pending query, annulus cell)   [driver-built Arrow local relation]
  points(cell) --broadcast-join cell--> d2
               --union carried top-k--> row_number per query (d2, id) <= k
               --collect-->  driver compares each kth d2 with the bound
The join key is one packed bigint cell id (`functions.tiles.cell`, the
packing of the spatial join's `assign_cell`; the driver packs the
annulus cells with the same formula), so the probe is Spark's
LongHashedRelation, not a two-column UnsafeRow key.
Queries are few relative to points (the gdalgrid model: one output grid
node per cell vs millions of scattered points), so the query side is
always the broadcast side and the big point table is NEVER shuffled or
cached — only scanned, once per round, with cell-prefilter pushdown.
"""
from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tiles as TF

ORIGIN_SHIFT = TF.ORIGIN_SHIFT


def _merc_cells(df: DataFrame, id_col: str, lon: str, lat: str, res: int, p: str) -> DataFrame:
    """(_{p}id, _{p}mx, _{p}my, _{p}cell): id, mercator meters, packed cell id."""
    x, y = TF.quote(lon), TF.quote(lat)
    return df.selectExpr(f"{TF.quote(id_col)} AS _{p}id", f"{TF.merc_mx(x)} AS _{p}mx",
                         f"{TF.merc_my(y)} AS _{p}my", f"{TF.cell(x, y, res)} AS _{p}cell")


def _planned_rows(df: DataFrame) -> int | None:
    """Rows of `df` from its optimized plan's statistics, with no job:
    `rowCount` when Spark has it, else `sizeInBytes` over Spark's
    per-row size (8 + the fields' default sizes). None when the size is
    unknown — a source reporting `spark.sql.defaultSizeInBytes`, as a
    `createDataFrame` input does — or when the plan reads more than one
    source, whose size a join multiplies."""
    plan = df._jdf.queryExecution().optimizedPlan()
    stats = plan.stats()
    if stats.rowCount().isDefined():
        return int(str(stats.rowCount().get()))
    leaves = plan.collectLeaves()
    unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    if leaves.size() != 1 or int(str(leaves.head().stats().sizeInBytes())) >= unknown:
        return None
    return int(str(stats.sizeInBytes())) // (8 + df._jdf.schema().defaultSize())


def _auto_res(points: DataFrame, k: int) -> int:
    """About 6k points per cell (4^res cells), clamped to [1, 16]; the
    row count from plan statistics, `count()` only when they have none."""
    n = _planned_rows(points)
    if n is None:
        n = points.count()
    return min(16, max(1, round(math.log(max(n, 1) / (6 * k), 4))))


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
    per the kw args. If `max_rounds` stops the loop early, only the
    finished queries are returned.

    `res=None` picks the cell resolution for about 6k points per cell,
    from the row count in the optimized plan's statistics (a parquet
    scan's file sizes, a range's length), so it runs no Spark job; only
    an input of unknown size (e.g. from `createDataFrame`) is counted.
    The estimate changes only the speed, never the result.

    Each round joins the points to the pending queries' annulus cells
    on one packed bigint cell id (`functions.tiles.cell`).

    Caching: the operator owns no cache. `points` is evaluated once per
    round (and once more for the count of an unknown-size input),
    `queries` once; a caller with an expensive upstream plan persists
    it first.
    """
    spark = points.sparkSession
    if res is None:
        res = _auto_res(points, k)
    w = 2.0 * ORIGIN_SHIFT / float(2**res)
    lim = 2**res - 1
    if max_rounds is None:
        max_rounds = lim + 2

    pts = _merc_cells(points, point_id, lon, lat, res, "p")
    qsdf = _merc_cells(queries, query_id, lon, lat, res, "q")
    qf, pf = qsdf.schema["_qid"], pts.schema["_pid"]
    pending = qsdf.toPandas()
    qcells_schema = T.StructType(  # (_qid, _qmx, _qmy) + the packed ring cell
        qsdf.schema.fields[:3] + [T.StructField("_cell", T.LongType(), False)])
    topk_schema = T.StructType([qf, pf, T.StructField("_d2", T.DoubleType(), False)])
    rank = F.expr("row_number() OVER (PARTITION BY _qid ORDER BY _d2, _pid)")
    d2 = F.expr("((_pmx - _qmx) * (_pmx - _qmx)) + ((_pmy - _qmy) * (_pmy - _qmy))")

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
        # functions.tiles.pack_cell is row-major, (1 << 2res) | cx << res
        # | cy: a cell (dx, dy) away is the id plus dx << res plus dy
        qcell = pending["_qcell"].to_numpy()[:, None]
        cx, cy = ((qcell >> res) & lim) + dx, (qcell & lim) + dy
        on = ((cx >= 0) & (cx <= lim) & (cy >= 0) & (cy <= lim)).ravel()
        qc = pending.loc[pending.index.repeat(len(dx))[on], ["_qid", "_qmx", "_qmy"]].assign(
            _cell=(qcell + (dx << res) + dy).ravel()[on])
        qcells = spark.createDataFrame(qc, qcells_schema)
        cand = pts.join(F.broadcast(qcells), F.expr("_pcell = _cell")).select(
            "_qid", "_pid", d2.alias("_d2"))
        if not carried.empty:
            cand = cand.unionByName(spark.createDataFrame(carried, topk_schema))
        topk = cand.withColumn("_rank", rank).filter(f"_rank <= {k}").toPandas()
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
