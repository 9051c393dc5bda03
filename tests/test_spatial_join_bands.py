"""Band-table exact stage of the broadcast spatial join.

The band predicate (operators.spatial_join._band_table +
_band_condition) must decide every (point, cover row) pair exactly as
kernels.pip.point_in_ring with its envelope pretest does, bit for bit,
including the boundary cases the crossing rule is defined on. The
broadcast arm picks it from the cover itself and falls back to the
Arrow kernel for dense rings; the fused stage must stay Python-free
and small enough for HotSpot to compile.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdal_spark.kernels import cells, mercator
from gdal_spark.kernels.pip import point_in_ring
from gdal_spark.operators import spatial_join as SJ
from gdal_spark.operators import tiling
from gdal_spark.sources import docs, polygons

RES = 3  # coarse: rings span several cells and reach the grid borders


def _rings() -> dict[int, np.ndarray]:
    rng = np.random.default_rng(7)
    rings = {}
    for p in range(12):
        # non-convex stars; every other one snapped to a 0.5-degree grid
        # so vertex ys repeat and edges run horizontal
        n = int(rng.integers(5, 13))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(2, 30) * rng.uniform(0.3, 1.0, n)
        cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
        ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
        if p % 2:
            ring = np.round(ring * 2) / 2
        rings[p] = ring  # open: point_in_ring closes it
    rings[20] = np.array([[150, 80], [180, 84], [175, 89.9], [160, 90],
                          [150, 80]], dtype=np.float64)  # polar, open at +/-180
    rings[21] = np.array([[-180, -89], [-170, -86], [-175, -80], [-180, -89]],
                         dtype=np.float64)
    rings[22] = np.array([[0, 0], [2, 2], [4, 0], [4, 4], [2, 2], [0, 4], [0, 0]],
                         dtype=np.float64)  # self-touching at (2, 2)
    rings[23] = np.array([[10, 10], [20, 10], [15, 20]], dtype=np.float64)  # 3 open
    rings[24] = np.array([[10, 10], [20, 10], [10, 10]], dtype=np.float64)  # < 4
    rings[25] = np.array([[30, 30], [40, 30]], dtype=np.float64)  # 2 points
    rings[26] = np.array([[-40, -5], [-20, -5], [-20, 5], [-30, 0], [-40, 5],
                          [-40, -5]], dtype=np.float64)  # horizontal edges
    x = 45 + 5e-7  # an edge just right of the cell border at lon 45
    rings[28] = np.array([[30, 0], [60, 0], [60, 20], [x, 20], [x, 10], [30, 10],
                          [30, 0]], dtype=np.float64)
    return rings


def _cover(rings):
    rows = []
    for p, ring in rings.items():
        for c in cells.polygon_cover(ring, RES):
            rows.append((int(c), p, *ring.min(axis=0), *ring.max(axis=0)))
    keys = pd.DataFrame(rows, columns=SJ._KEY_COLS)
    # duplicate cover rows must emit duplicate pairs
    keys = pd.concat([keys, keys[keys["poly_id"].isin([3, 22])]], ignore_index=True)
    # a cover row whose envelope is narrower than its ring's
    narrow = keys[keys["poly_id"] == 26].copy()
    narrow["maxy"], narrow["minx"] = 2.0, -35.0
    keys = pd.concat([keys, narrow.assign(poly_id=27)], ignore_index=True)
    rings[27] = rings[26]
    keys["row_id"] = np.arange(len(keys), dtype=np.int64)
    return keys


def _points(rings) -> pd.DataFrame:
    rng = np.random.default_rng(11)
    lon, lat = [], []

    def add(x, y):
        x, y = np.broadcast_arrays(np.asarray(x, float), np.asarray(y, float))
        lon.extend(x.ravel())
        lat.extend(y.ravel())

    tile_lats = mercator.meters_to_lat_lon(
        0.0, mercator.tile_bounds(0, np.arange(2**RES + 1), RES)[1])[0]
    tile_lons = np.arange(2**RES + 1) * (360.0 / 2**RES) - 180.0
    for ring in rings.values():
        lo, hi = ring.min(axis=0), ring.max(axis=0)
        pad = (hi - lo) * 0.1 + 1e-3
        add(rng.uniform(lo[0] - pad[0], hi[0] + pad[0], 300),
            rng.uniform(lo[1] - pad[1], hi[1] + pad[1], 300))
        add(ring[:, 0], ring[:, 1])  # on vertices
        for y in ring[:, 1]:  # exactly at vertex ys
            add(rng.uniform(lo[0], hi[0], 6), y)
        a, b = ring[:-1], ring[1:]
        flat = a[:, 1] == b[:, 1]
        add((a[flat, 0] + b[flat, 0]) / 2, a[flat, 1])  # on horizontal edges
        for y in tile_lats[(tile_lats >= lo[1]) & (tile_lats <= hi[1])]:
            for yy in (np.nextafter(y, -np.inf), y, np.nextafter(y, np.inf)):
                add(rng.uniform(lo[0], hi[0], 6), yy)  # tile edges +/- 1 ulp
        for x in tile_lons[(tile_lons >= lo[0]) & (tile_lons <= hi[0])]:
            for xx in (np.nextafter(x, -np.inf), x, np.nextafter(x, np.inf), x + 2e-7):
                add(xx, rng.uniform(lo[1], hi[1], 6))
    add(rng.uniform(-40, -20, 40), 2.0)  # on the narrowed cover envelope
    add(-35.0, rng.uniform(-5, 5, 40))
    for x in (-180.0, 180.0, np.nextafter(-180.0, 0), np.nextafter(180.0, 0)):
        add(x, rng.uniform(-90, 90, 40))
        add(x, [80.5, 84.0, 86.0, 89.95, -87.0, -81.0])
    for y in (85.06, 86.5, 88.0, 89.99, 90.0, -85.06, -88.0, -90.0):
        add(rng.uniform(-180, 180, 40), y)
        add([155.0, 165.0, 176.0, -178.0, -176.0], y)
    odd = [np.nan, np.inf, -np.inf, 1e300, -1e300, 0.0, 15.0]
    for x in odd:
        add(x, odd)
    return pd.DataFrame({"id": np.arange(len(lon), dtype=np.int64),
                         "lon": lon, "lat": lat})


def _band_pairs(spark, pts, keys, rings):
    pdf, k = SJ._band_table(keys, rings, RES)
    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("cell", "poly_id", "row_id")]
        + [T.StructField(c, T.DoubleType(), False) for c in pdf.columns[3:]])
    table = spark.createDataFrame(pdf, schema)
    p = SJ.assign_cell(spark.createDataFrame(pts), res=RES)
    got = (p.join(F.broadcast(table), "cell")
           .filter(SJ._band_condition("lon", "lat", k))
           .select("id", "row_id").collect())
    return sorted(map(tuple, got)), k, p.select("id", "cell").toPandas()


def _kernel_pairs(pts, cell_of, keys, rings):
    cell = pts["id"].map(cell_of.set_index("id")["cell"]).to_numpy()
    lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
    out = []
    for r in keys.itertuples():
        sel = np.flatnonzero((cell == r.cell) & (lon >= r.minx) & (lon <= r.maxx)
                             & (lat >= r.miny) & (lat <= r.maxy))
        hit = point_in_ring(lon[sel], lat[sel], rings[r.poly_id])
        out.extend((int(i), int(r.row_id)) for i in pts["id"].to_numpy()[sel[hit]])
    return sorted(out)


def test_band_predicate_is_bit_identical_to_kernel(spark, monkeypatch):
    monkeypatch.setattr(SJ, "_BAND_MAX_EDGES", 64)  # the predicate at any k
    rings = _rings()
    keys = _cover(rings)
    pts = _points(rings)
    got, k, cell_of = _band_pairs(spark, pts, keys, rings)
    assert k > 2  # non-convex rings: bands with more than two edges
    want = _kernel_pairs(pts, cell_of, keys, rings)
    assert got == want
    assert len(want) > 1000
    # duplicated cover rows emit their (point, polygon) pairs twice
    pairs = pd.DataFrame(got, columns=["id", "row_id"]).merge(keys, on="row_id")
    assert (pairs.groupby(["id", "poly_id"]).size() == 2).any()


def test_join_tile_plan_is_python_free_and_jit_sized(spark, tmp_path):
    """The join_tile shape: docs parquet -> countries64 cover join ->
    assign_tiles(z12). HotSpot does not compile a method over 8,000
    bytecode bytes, and the fused stage then runs interpreted."""
    path = str(tmp_path / "docs")
    docs.synth_docs(spark, 2000).write.parquet(path)
    cov = polygons.countries64_cover(spark, res=6)
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        joined = SJ.spatial_join_points_in_polygons(
            spark.read.parquet(path), cov, res=6,
            keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"])
        out = tiling.assign_tiles(joined, zoom=12).select(
            "doc_id", "doc_index", "spans", "poly_id", "tx", "ty_xyz", "quadkey")
        plan = out._jdf.queryExecution().executedPlan()
        seq = spark._jvm.org.apache.spark.sql.execution.debug.package \
            .codegenStringSeq(plan).iterator()
        sizes = []
        while seq.hasNext():
            sizes.append(seq.next()._3().maxMethodCodeSize())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    text = plan.toString()
    assert "BroadcastHashJoin" in text
    assert "ArrowEvalPython" not in text and "BatchEvalPython" not in text
    assert sizes and max(sizes) < 8000


def test_dense_rings_keep_arrow_engine_without_building_bands(spark, monkeypatch):
    def build(*a, **k):
        raise AssertionError("band rows built for a dense cover")

    monkeypatch.setattr(SJ, "_band_table", build)
    cov = polygons.countries64_dense_cover(spark, res=6, nv=4096)
    pts = docs.synth_docs(spark, 100).select("doc_index", "lon", "lat")
    plan = SJ.spatial_join_points_in_polygons(
        pts, cov, res=6, keep_point_cols=["doc_index"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_huge_coordinates_keep_arrow_engine(spark):
    """Past 1e150 a crossing term can overflow into NaN, which Spark
    orders above 0; such rings take the Arrow kernel, same pairs."""
    ring = np.array([[0, 0], [1e200, 0], [0, 10], [0, 0]], dtype=np.float64)
    cover = spark.createDataFrame(
        [(int(c), 0, ring[:, 0].tolist(), ring[:, 1].tolist(), 0.0, 0.0, 1e200, 10.0)
         for c in cells.polygon_cover(ring, RES)],
        "cell bigint, poly_id bigint, xs array<double>, ys array<double>, "
        "minx double, miny double, maxx double, maxy double")
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": [0, 1, 2], "lon": [1.0, 100.0, -1.0], "lat": [1.0, 5.0, 1.0]}))
    out = SJ.spatial_join_points_in_polygons(
        pts, cover, res=RES, keep_point_cols=["id"])
    assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
    assert sorted(r["id"] for r in out.collect()) == [0, 1]


def test_infinite_ring_vertex_joins_in_both_arms(spark):
    """A ring whose first vertex has x = -inf must not overflow the
    broadcast arm's driver-side cell test; both arms agree."""
    ring = np.array([[-np.inf, 0], [10, 0], [10, 10], [-np.inf, 0]])
    cover = spark.createDataFrame(
        [(int(c), 0, ring[:, 0].tolist(), ring[:, 1].tolist(), -np.inf, 0.0, 10.0, 10.0)
         for c in cells.polygon_cover(np.array([[-180, 0], [10, 0], [10, 10]]), RES)],
        "cell bigint, poly_id bigint, xs array<double>, ys array<double>, "
        "minx double, miny double, maxx double, maxy double")
    pts = spark.createDataFrame(pd.DataFrame(
        {"id": [0, 1, 2], "lon": [5.0, 5.0, 20.0], "lat": [0.5, 9.0, 1.0]}))
    got = {st: sorted(r["id"] for r in SJ.spatial_join_points_in_polygons(
        pts, cover, res=RES, strategy=st, keep_point_cols=["id"]).collect())
        for st in ("broadcast", "shuffle")}
    assert got["broadcast"] == got["shuffle"]
    assert 2 not in got["broadcast"] and 0 in got["broadcast"]
