"""Spatial join vs the single-node nested-loop reference.

The oracle is the reference's own plan (layer-algebra nested loop with
FilterGeometry staging, ogrlayer.cpp:2253-2325 + isPointInRing
ogrlinearring.cpp:503-531) run in numpy; the engine's cell-bucketed
join must produce the identical sorted (doc_index, poly_id) set under
every join strategy.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from gdal_spark.kernels.pip import point_in_ring
from gdal_spark.operators.spatial_join import spatial_join_points_in_polygons
from gdal_spark.sources import derive, docs, polygons

N_DOCS = 3000


def _oracle_pairs(n, skew=False):
    i = np.arange(n)
    lon = derive.lon_np(i)
    lat = derive.lat_np(i)
    pdf = polygons.countries64_pdf(skew_poly0=skew)
    pairs = []
    for _, r in pdf.iterrows():
        ring = np.column_stack([np.asarray(r["xs"]), np.asarray(r["ys"])])
        hit = point_in_ring(lon, lat, ring)
        for d in i[hit]:
            pairs.append((int(d), int(r["poly_id"])))
    return sorted(pairs)


@pytest.fixture(scope="module")
def oracle_plain():
    return _oracle_pairs(N_DOCS)


@pytest.fixture(scope="module")
def oracle_skew():
    return _oracle_pairs(N_DOCS, skew=True)


def _engine_pairs(spark, strategy, skew=False, **kw):
    pts = docs.synth_docs(spark, N_DOCS).select("doc_index", "lon", "lat")
    cov = polygons.countries64_cover(spark, res=6, skew_poly0=skew)
    out = spatial_join_points_in_polygons(
        pts, cov, res=6, strategy=strategy,
        keep_point_cols=["doc_index"], **kw,
    )
    return sorted((int(r["doc_index"]), int(r["poly_id"])) for r in out.collect())


def test_broadcast_matches_oracle(spark, oracle_plain):
    assert _engine_pairs(spark, "broadcast") == oracle_plain


def test_shuffle_matches_oracle(spark, oracle_plain):
    assert _engine_pairs(spark, "shuffle") == oracle_plain


@pytest.mark.parametrize("strategy", ["broadcast", "shuffle"])
def test_matches_oracle_on_skewed_polygons(spark, oracle_skew, strategy):
    """Polygon 0 inflated over ~30% of the world (FIXTURES F3): it
    spreads over many cell keys, and both distributions keep its pairs."""
    assert _engine_pairs(spark, strategy, skew=True) == oracle_skew


@pytest.mark.parametrize("strategy", [
    "rowrings", "salted", "grouped_salted", "grouped", "braodcast"])
@pytest.mark.parametrize("join", ["points", "wkb"])
def test_unknown_strategy_raises(spark, join, strategy):
    from gdal_spark.operators.spatial_join import spatial_join_wkb

    pts = spark.createDataFrame([(0, 1.0, 1.0)], "id long, lon double, lat double")
    cov = polygons.countries64_cover(spark, res=6)
    with pytest.raises(ValueError, match="strategy"):
        if join == "points":
            spatial_join_points_in_polygons(pts, cov, strategy=strategy)
        else:
            spatial_join_wkb(pts, cov, geom="lon", strategy=strategy)


def test_every_point_in_at_most_one_plain_polygon(spark, oracle_plain):
    from collections import Counter

    c = Counter(d for d, _ in oracle_plain)
    assert max(c.values()) == 1
    assert len(oracle_plain) > 100  # non-trivial fixture


def test_docs_from_table_matches_synth_docs(spark, oracle_plain):
    """Points derived from any integer id column (the driver-contract
    tables' keys) are the synth_docs rows of the same index, so their
    join is the oracle's."""
    table = spark.range(N_DOCS).selectExpr("CAST(id AS INT) AS k", "id % 7 AS other")
    got = docs.docs_from_table(table, "k")
    assert got.columns == ["k", "other", "lon", "lat"]
    want = docs.synth_docs(spark, N_DOCS).selectExpr("doc_index AS k", "lon", "lat")
    assert (sorted(map(tuple, got.select("k", "lon", "lat").collect()))
            == sorted(map(tuple, want.collect())))
    out = spatial_join_points_in_polygons(
        got, polygons.countries64_cover(spark, res=6), res=6, keep_point_cols=["k"])
    assert sorted((r["k"], r["poly_id"]) for r in out.collect()) == oracle_plain


def test_span_sequence_preserved_through_join(spark):
    """The ogr_gensql native-data invariant: span sequences survive the
    join byte-for-byte (reference ogr_gensql.cpp:1536-1538)."""
    d = docs.synth_docs(spark, 500)
    cov = polygons.countries64_cover(spark, res=6)
    joined = spatial_join_points_in_polygons(
        d, cov, res=6, keep_point_cols=["doc_id", "doc_index", "spans", "lon", "lat"]
    )
    before = {r["doc_id"]: r["span_fp"] for r in docs.span_fingerprint(d).collect()}
    after = {r["doc_id"]: r["span_fp"] for r in docs.span_fingerprint(joined).collect()}
    assert after  # join is non-empty
    for k, v in after.items():
        assert before[k] == v


def test_wkb_grouped_shuffle_matches_broadcast_dict(spark):
    """The no-broadcast WKB path (rings cogrouped once per
    (cell, poly_id)) must equal the broadcast-dict path on the
    multipolygon-with-holes fixture."""
    import pyspark.sql.functions as F

    from gdal_spark.kernels import wkb as wkb_mod
    from gdal_spark.operators.spatial_join import spatial_join_wkb
    from gdal_spark.sources import docs as D
    from gdal_spark.sources import polygons as P

    pts = D.synth_docs(spark, 4000).select("doc_index", "lon", "lat")

    @F.pandas_udf("binary")
    def _enc(lon: pd.Series, lat: pd.Series) -> pd.Series:
        import numpy as np
        return pd.Series(wkb_mod.encode_points(
            lon.to_numpy(dtype=np.float64), lat.to_numpy(dtype=np.float64)))

    wkb_pts = pts.select("doc_index", _enc("lon", "lat").alias("geom"))
    cov = P.countries64_mp_cover(spark, res=6)
    got = {}
    for st in ("broadcast", "shuffle"):
        got[st] = sorted(
            (int(r["doc_index"]), int(r["poly_id"]))
            for r in spatial_join_wkb(
                wkb_pts, cov, res=6, strategy=st,
                keep_point_cols=["doc_index"]).collect()
        )
    assert got["shuffle"] == got["broadcast"]
    assert len(got["broadcast"]) > 100


def test_broadcast_band_engine_matches_shuffle_python_free(spark):
    """The default broadcast arm runs the band-table exact stage on the
    countries64 cover: same pairs as the grouped arm, and no Python in
    the plan. Both broadcast engines (band table and, on the dense
    cover, the Arrow kernel) emit the shuffle arm's output schema."""
    pts = docs.synth_docs(spark, 20000).select("doc_id", "doc_index", "lon", "lat")
    cov = polygons.countries64_cover(spark, res=5)
    got, schemas = {}, {}
    for st in ("broadcast", "shuffle"):
        out = spatial_join_points_in_polygons(
            pts, cov, res=5, strategy=st, keep_point_cols=["doc_index"])
        schemas[st] = [(f.name, f.dataType) for f in out.schema.fields]
        got[st] = sorted(map(tuple, out.select("doc_index", "poly_id").collect()))
    assert got["broadcast"] == got["shuffle"]
    assert len(got["broadcast"]) > 0
    dense = spatial_join_points_in_polygons(
        pts, polygons.countries64_dense_cover(spark, res=5, nv=4096), res=5,
        keep_point_cols=["doc_index"])
    assert "ArrowEvalPython" in dense._jdf.queryExecution().executedPlan().toString()
    schemas["arrow"] = [(f.name, f.dataType) for f in dense.schema.fields]
    assert schemas["broadcast"] == schemas["shuffle"] == schemas["arrow"]
    plan = spatial_join_points_in_polygons(
        pts, cov, res=5, keep_point_cols=["doc_index"]
    )._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
