"""The benchmark workloads: seeded inputs, fixtures, the timed
pipeline, its output fingerprint and an independent reference.

Every pipeline calls the engine's public functions with their default
arguments. A fingerprint is (row count, order-independent sum of a
per-row integer mix), computed with integer arithmetic only, so Spark
and DuckDB produce the same pair of numbers for the same rows. The
inputs are written by the engine's own doc generator
(``gdal_spark.sources.docs``); the reference fingerprint comes from
DuckDB over those files, using the cross-engine oracle SQL in
``gdal_spark.sources.derive``, and never runs engine code.
"""
from __future__ import annotations

import json
import os
import shutil

import numpy as np

M31 = 2147483648  # 2^31, matches gdal_spark.sources.derive.M31

# Rows of the driving table per workload, and the kNN query count. Both
# workloads read the same doc table for a seed, so it is written once.
SIZES = {"join_tile": 2_000_000, "knn": 2_000_000, "pyramid_write": 2_000_000}
# Docs a workload reads when a traced run of another workload measures
# its layers on the side (default: that workload's size).
SIDE_ROWS = {"pyramid_write": 250_000}
KNN_QUERIES = 64
TILE_ZOOM = 12
COVER_RES = 6
PIP_RING_NV = 4096  # ring size of the kernels.pip probe
N_FILES = 8  # parquet files per input table
QUERY_SALTS = (5, 6)  # kNN query lon/lat salts, distinct from the points'


def seed_offset(seed: int) -> int:
    """First doc index for a seed. Seeds map to id ranges 10^7 apart (mod
    about 2^31), and lon/lat are hashes of the index, so each seed gets
    its own pseudo-random point set."""
    return (seed * 10_000_019) % (M31 - 50_000_000)


# ------------------------------------------------------------------ inputs

def _write_once(df, path: str) -> str:
    """Write `df` as parquet to `path` unless it is already there; the
    rename makes a half-written directory invisible."""
    if not os.path.isdir(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        df.write.parquet(tmp)
        os.replace(tmp, path)
    return path


def make_docs(spark, work: str, seed: int, n: int) -> str:
    """The engine's interleaved-doc table (FIXTURES F1: doc_id,
    doc_index, spans, lon, lat) over the seed's index range, written as
    N_FILES parquet files and cached by (seed, n)."""
    from pyspark.sql import functions as F

    from gdal_spark.sources import docs

    off = seed_offset(seed)
    i = F.col("id")
    df = spark.range(off, off + n, 1, N_FILES).select(
        F.concat(F.lit("doc-"), F.lpad(i.cast("string"), 12, "0")).alias("doc_id"),
        i.alias("doc_index"), docs.spans_col(i).alias("spans"),
        docs.lon_col(i).alias("lon"), docs.lat_col(i).alias("lat"))
    return _write_once(df, os.path.join(work, "inputs", f"docs_s{seed}_n{n}"))


def make_queries(spark, work: str, seed: int, n: int) -> str:
    """kNN query points (query_id, lon, lat), hashed with salts distinct
    from the doc points'."""
    from pyspark.sql import functions as F

    from gdal_spark.sources import docs

    q = F.col("query_id")
    df = spark.range(0, n, 1, 1).select(
        (F.lit(seed_offset(seed) + 7) + F.col("id") * 13).alias("query_id")).select(
        q, (F.lit(-180.0) + F.lit(360.0) * docs.hash01_col(q, QUERY_SALTS[0])).alias("lon"),
        (F.lit(-85.05) + F.lit(170.1) * docs.hash01_col(q, QUERY_SALTS[1])).alias("lat"))
    return _write_once(df, os.path.join(work, "inputs", f"queries_s{seed}_n{n}"))


# ------------------------------------------------------- fingerprint mixes
# Spark SQL and DuckDB share these expressions; all terms stay far
# below 2^63, and every row mix is reduced mod 2^31 so the sum of up to
# 2^32 rows cannot overflow.

SPAN_SIG_SPARK = (
    f"aggregate(spans, 0L, (acc, s) -> (acc * 31 + length(s.text) * 7 "
    f"+ length(s.media_ref) * 3 + s.offset + ascii(s.kind)) % {M31})"
)
SPAN_SIG_DUCK = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(spans, s -> "
    "CAST(length(s.text) * 7 + length(s.media_ref) * 3 + s.offset "
    f"+ ascii(s.kind) AS BIGINT))), (a, b) -> (a * 31 + b) % {M31})"
)


def _join_tile_mix(idx: str, span_sig: str) -> str:
    return (f"(({idx} % {M31}) * 1000003 + poly_id * 10007 + tx * 131 "
            f"+ ty_xyz * 137 + (CAST(quadkey AS BIGINT) % {M31}) * 3 "
            f"+ {span_sig}) % {M31}")


PYRAMID_MIX = (f"(zoom * 1000003 + (CAST(concat('1', quadkey) AS BIGINT) % {M31}) * 31 "
               f"+ cnt * 7) % {M31}")

KNN_MIX = (f"((query_id % {M31}) * 1000003 + (point_id % {M31}) * 31 "
           f"+ `rank` * 7) % {M31}")


def spark_sink(df, mix: str):
    """Run the anti-pruning sink: every output column is hashed (so no
    column can be pruned) and the fingerprint is computed in the same
    job. Returns ((rows, mix_sum), sink DataFrame)."""
    from pyspark.sql import functions as F

    sink = df.select(
        F.count("*").alias("n"),
        F.sum(F.expr(mix)).alias("s"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h"),
    )
    row = sink.collect()[0]
    return (int(row["n"]), int(row["s"] or 0)), sink


# -------------------------------------------------------------- workloads

class Workload:
    """One workload: `fixtures` builds what set-up builds, `inputs`
    writes the seeded input files, `run` is one timed rep and returns
    the output fingerprint, `expected` the reference fingerprint."""

    name = ""

    def __init__(self, work: str, seed: int, n: int):
        self.work, self.seed, self.n = work, seed, n
        self.docs = ""

    def inputs(self, spark) -> None:
        self.docs = make_docs(spark, self.work, self.seed, self.n)

    def fixtures(self, spark) -> dict:
        """Set-up objects; a polygon cover is stored under "cover"."""
        return {}

    def output(self, spark, fx):
        """The workload's output DataFrame (lazy) and its mix."""
        raise NotImplementedError

    def run(self, spark, fx):
        return spark_sink(*self.output(spark, fx))[0]

    def reference(self) -> tuple[int, int]:
        """The expected fingerprint, computed by DuckDB from the inputs."""
        raise NotImplementedError

    def expected(self) -> tuple[int, int]:
        """reference(), recorded next to the inputs on first use."""
        path = os.path.join(self.work, "inputs",
                            f"expected_{self.name}_s{self.seed}_n{self.n}.json")
        if not os.path.isfile(path):
            with open(path + ".tmp", "w") as f:
                json.dump(list(self.reference()), f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            n, s = json.load(f)
        return n, s


def _duck():
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    return con


def _tiles_sql(src: str) -> str:
    """(id, poly_id.., tx, ty_tms) -> + ty_xyz, quadkey via the oracle
    fragments of gdal_spark.sources.derive (TILE_ZOOM, clamped)."""
    from gdal_spark.sources import derive

    z = TILE_ZOOM
    lim = 2**z - 1
    tx = derive.clamp_sql(derive.tile_sql(derive.mercator_mx_sql("x"), z), 0, lim)
    ty = derive.clamp_sql(derive.tile_sql(derive.mercator_my_sql("y"), z), 0, lim)
    return (f"SELECT *, {derive.xyz_ty_sql('ty_tms', z)} AS ty_xyz, "
            f"{derive.quadkey_sql('tx', 'ty_tms', z)} AS quadkey FROM "
            f"(SELECT *, {tx} AS tx, {ty} AS ty_tms FROM ({src}))")


class JoinTile(Workload):
    """docs ⋈ countries64_cover -> assign_tiles(z12), spans carried."""

    name = "join_tile"

    def fixtures(self, spark):
        from gdal_spark.sources import polygons

        return {"cover": polygons.countries64_cover(spark, res=COVER_RES)}

    def joined(self, spark, fx):
        from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons

        d = spark.read.parquet(self.docs)
        return spatial_join_points_in_polygons(
            d, fx["cover"], res=COVER_RES,
            keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"])

    def output(self, spark, fx):
        from gdal_spark.operators import tiling

        tiled = tiling.assign_tiles(self.joined(spark, fx), zoom=TILE_ZOOM)
        out = tiled.select("doc_id", "doc_index", "spans", "poly_id",
                           "tx", "ty_xyz", "quadkey")
        return out, _join_tile_mix("doc_index", SPAN_SIG_SPARK)

    def reference(self):
        from gdal_spark.sources import derive

        con = _duck()
        src = f"read_parquet('{self.docs}/*.parquet')"
        pairs = derive.pip_join_sql(
            f"SELECT doc_index AS id, lon AS x, lat AS y FROM {src}")
        joined = (f"SELECT p.id, p.poly_id, d.spans, d.lon AS x, d.lat AS y "
                  f"FROM ({pairs}) p JOIN {src} d ON d.doc_index = p.id")
        mix = _join_tile_mix("id", SPAN_SIG_DUCK)
        n, s = con.execute(
            f"SELECT count(*), sum({mix}) FROM ({_tiles_sql(joined)})").fetchone()
        return int(n), int(s or 0)


class Knn(Workload):
    """knn_join(doc points, seeded query set), defaults (k=5, res=5)."""

    name = "knn"

    def inputs(self, spark):
        super().inputs(spark)
        self.queries = make_queries(spark, self.work, self.seed, KNN_QUERIES)

    def output(self, spark, fx):
        from gdal_spark.operators import knn

        pts = spark.read.parquet(self.docs).select(
            "doc_index", "lon", "lat").withColumnRenamed("doc_index", "point_id")
        qs = spark.read.parquet(self.queries)
        out = knn.knn_join(pts, qs, point_id="point_id", query_id="query_id")
        return out, KNN_MIX

    def reference(self):
        from gdal_spark.sources import derive

        k = 5
        mx, my = derive.mercator_mx_sql("lon"), derive.mercator_my_sql("lat")
        con = _duck()
        pts = con.execute(
            f"SELECT doc_index, {mx}, {my} FROM "
            f"read_parquet('{self.docs}/*.parquet')").fetchnumpy()
        qs = con.execute(
            f"SELECT query_id, {mx}, {my} FROM "
            f"read_parquet('{self.queries}/*.parquet')").fetchnumpy()
        pid, pmx, pmy = (np.asarray(v) for v in pts.values())
        rows, total = 0, 0
        for q, qmx, qmy in zip(*(np.asarray(v) for v in qs.values())):
            d2 = (pmx - qmx) * (pmx - qmx) + (pmy - qmy) * (pmy - qmy)
            kth = np.partition(d2, k - 1)[k - 1]
            cand = np.flatnonzero(d2 <= kth)
            top = cand[np.lexsort((pid[cand], d2[cand]))][:k]
            for rank, p in enumerate(pid[top].tolist(), start=1):
                total += (int(q) % M31 * 1000003 + p % M31 * 31 + rank * 7) % M31
                rows += 1
        return rows, total


class PyramidWrite(Workload):
    """docs -> pyramid_counts(z12 -> z0) -> io.write_range_partitioned;
    the fingerprint is read back from the written files."""

    name = "pyramid_write"

    def inputs(self, spark):
        super().inputs(spark)
        self.out = os.path.join(self.work, "out", f"pyramid_s{self.seed}_n{self.n}")

    def pyramid(self, spark):
        from gdal_spark.operators import tiling

        pts = spark.read.parquet(self.docs).select("lon", "lat")
        return tiling.pyramid_counts(pts, max_zoom=TILE_ZOOM)

    def write(self, spark) -> None:
        from gdal_spark import io

        io.write_range_partitioned(self.pyramid(spark), self.out)

    def run(self, spark, fx):
        self.write(spark)
        return spark_sink(spark.read.parquet(self.out), PYRAMID_MIX)[0]

    def reference(self):
        from gdal_spark.sources import derive

        z = TILE_ZOOM
        lim = 2**z - 1
        tx = derive.clamp_sql(derive.tile_sql(derive.mercator_mx_sql("lon"), z), 0, lim)
        ty = derive.clamp_sql(derive.tile_sql(derive.mercator_my_sql("lat"), z), 0, lim)
        base = (f"SELECT {derive.quadkey_sql('tx', 'ty_tms', z)} AS qk FROM "
                f"(SELECT {tx} AS tx, {ty} AS ty_tms "
                f"FROM read_parquet('{self.docs}/*.parquet'))")
        levels = " UNION ALL ".join(
            f"SELECT {lv} AS zoom, substring(qk, 1, {lv}) AS quadkey, count(*) AS cnt "
            f"FROM base GROUP BY 2" for lv in range(z, -1, -1))
        n, s = _duck().execute(
            f"WITH base AS ({base}), pyr AS ({levels}) "
            f"SELECT count(*), sum({PYRAMID_MIX}) FROM pyr").fetchone()
        return int(n), int(s or 0)


WORKLOADS = {w.name: w for w in (JoinTile, Knn, PyramidWrite)}
