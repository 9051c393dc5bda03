"""Raster operator tests: overview reduction, rasterize burn, CCL
polygonize (incl. the cross-tile stitch)."""
from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from gdal_spark.operators import raster


def test_overview_average_exact(spark):
    band = raster.synth_band(spark, zoom=2, tile_px=8)  # 32x32 px
    out = raster.overview_reduce(band, alg="average").orderBy("gy", "gx").toPandas()
    src = band.select("gx", "gy", "value").orderBy("gy", "gx").toPandas()
    img = src["value"].to_numpy().reshape(32, 32)
    expect = (img[0::2, 0::2] + img[0::2, 1::2] + img[1::2, 0::2] + img[1::2, 1::2]) / 4.0
    got = out["value"].to_numpy().reshape(16, 16)
    np.testing.assert_array_equal(got, expect)


def test_overview_min_max_sum_nearest(spark):
    band = raster.synth_band(spark, zoom=1, tile_px=8)  # 16x16
    src = band.select("gx", "gy", "value").orderBy("gy", "gx").toPandas()
    img = src["value"].to_numpy().reshape(16, 16)
    blocks = img.reshape(8, 2, 8, 2).transpose(0, 2, 1, 3).reshape(8, 8, 4)
    for alg, expect in [
        ("min", blocks.min(axis=2)),
        ("max", blocks.max(axis=2)),
        ("sum", blocks.sum(axis=2)),
        ("nearest", img[0::2, 0::2]),
    ]:
        out = raster.overview_reduce(band, alg=alg).orderBy("gy", "gx").toPandas()
        np.testing.assert_array_equal(
            out["value"].to_numpy().reshape(8, 8), expect.astype(float), err_msg=alg
        )


def test_polygonize_checkerboard_components(spark):
    # 64x64, 24-px blocks => blocks cross the 32-px tile borders
    px = raster.synth_raster(spark, 64, 64, block=24, n_values=2)
    out = raster.polygonize_ccl(px, width=64, tile=32).toPandas()
    # analytic oracle: one component per block
    widths = [24, 24, 16]
    expect = {}
    for by, h in enumerate(widths):
        for bx, w in enumerate(widths):
            label = (by * 24) * 64 + bx * 24
            expect[label] = ((bx + by) % 2, w * h)
    got = {int(r.label): (int(r.value), int(r.n_pixels)) for r in out.itertuples()}
    assert got == expect


def test_polygonize_conn8_checkerboard_collapses(spark):
    # 8-conn (GDALPolygonize 8CONNECTED=8): same-value checkerboard
    # blocks touch at corners, so the board collapses to one component
    # per colour. tile=24 puts block corner (48,48) on a tile line, so
    # the cross-tile DIAGONAL stitch is exercised too.
    px = raster.synth_raster(spark, 64, 64, block=24, n_values=2)
    out = raster.polygonize_ccl(px, width=64, tile=24, connect=8).toPandas()
    got = {int(r.value): (int(r.label), int(r.n_pixels)) for r in out.itertuples()}
    widths = [24, 24, 16]
    n_by_val = {0: 0, 1: 0}
    for by, h in enumerate(widths):
        for bx, w in enumerate(widths):
            n_by_val[(bx + by) % 2] += w * h
    assert got == {0: (0, n_by_val[0]), 1: (24, n_by_val[1])}


def test_sieve_connectedness_changes_component_size(spark):
    # two value-7 pixels touching only diagonally: conn4 sees two
    # 1-px components (both < threshold 2, absorbed into background);
    # conn8 sees one 2-px component (>= threshold, survives).
    # gdalsievefilter.cpp applies nConnectedness to both the component
    # build and the neighbor search.
    base = spark.range(0, 16 * 16).select(
        (F.col("id") % 16).alias("px"),
        (F.col("id") / 16).cast("bigint").alias("py"),
    )
    island = ((F.col("px") == 5) & (F.col("py") == 5)) | (
        (F.col("px") == 6) & (F.col("py") == 6))
    pix = base.withColumn("value", F.when(island, F.lit(7)).otherwise(F.lit(0)))
    out4 = raster.sieve_filter(pix, width=16, threshold=2, tile=8).toPandas()
    assert set(out4["value"]) == {0}
    out8 = raster.sieve_filter(pix, width=16, threshold=2, tile=8,
                               connect=8).toPandas()
    kept = out8[out8["value"] == 7]
    assert {(int(r.px), int(r.py)) for r in kept.itertuples()} == {(5, 5), (6, 6)}


def test_polygonize_single_value_is_one_component(spark):
    px = raster.synth_raster(spark, 48, 48, block=100, n_values=1)
    out = raster.polygonize_ccl(px, width=48, tile=16).toPandas()
    assert len(out) == 1
    assert int(out.iloc[0]["n_pixels"]) == 48 * 48
    assert int(out.iloc[0]["label"]) == 0


def test_rasterize_replace_vs_add(spark):
    from gdal_spark.sources import polygons

    grid = raster.pixel_grid(spark, zoom=1, tile_px=16)  # 32x32 world px
    cov = polygons.countries64_cover(spark, res=3)
    add = raster.rasterize_polygons(grid, cov, res=3, merge_alg="add").toPandas()
    rep = raster.rasterize_polygons(grid, cov, res=3, merge_alg="replace").toPandas()
    assert len(add) == len(rep) > 0
    # countries64 polygons are disjoint -> add == replace + 1 everywhere
    a = add.sort_values(["gy", "gx"]).reset_index(drop=True)
    r = rep.sort_values(["gy", "gx"]).reset_index(drop=True)
    assert ((a["burn"] - 1) == r["burn"]).all()


def test_cutline_pip_fold_cross_engine(spark):
    """The literal-vertex crossing fold must agree between the Spark
    JVM expression and DuckDB on a dense probe grid (float-exact: the
    fold is pure arithmetic over embedded literals)."""
    import duckdb
    from gdal_spark import queries as Q

    vx, vy = Q._cutline_star()
    pts = [(i, -175.0 + 10.0 * (i % 36), -80.0 + 16.0 * (i // 36))
           for i in range(36 * 11)]
    df = spark.createDataFrame(pts, "id bigint, x double, y double")
    got = sorted(
        r["id"] for r in
        df.where(Q._pip_crossing_spark("x", "y", vx, vy)).select("id").collect()
    )
    con = duckdb.connect()
    vals = ", ".join(f"({i}, {x!r}, {y!r})" for i, x, y in pts)
    exp = sorted(r[0] for r in con.execute(
        f"SELECT id FROM (VALUES {vals}) t(id, x, y) "
        f"WHERE {Q._pip_crossing_duckdb('x', 'y', vx, vy)}").fetchall())
    assert got == exp and 0 < len(got) < len(pts)


def test_nearblack_full_black_row_and_column(spark):
    """A fully near-black row AND column must both be trimmed entirely
    (the NULL run-bound cases), and an interior near-black pixel not
    reachable from an edge run survives."""
    import pyspark.sql.functions as F
    from gdal_spark.operators import raster as R

    W = 8
    df = spark.range(W * W).select(
        (F.col("id") % W).alias("px"),
        (F.col("id") / W).cast("bigint").alias("py"),
    )
    # row 3 and column 5 all black; border of depth 1 black;
    # interior black island at (2,5) shielded by non-black on all
    # four run directions
    v = (
        F.when((F.col("py") == 3) | (F.col("px") == 5), F.lit(0))
        .when((F.col("px") == 0) | (F.col("px") == W - 1)
              | (F.col("py") == 0) | (F.col("py") == W - 1), F.lit(2))
        .when((F.col("px") == 2) & (F.col("py") == 5), F.lit(1))
        .otherwise(F.lit(100))
    )
    out = R.nearblack(df.withColumn("value", v), near_dist=15).collect()
    got = {(r["px"], r["py"]): (r["value"], r["mask"]) for r in out}
    for x in range(W):
        assert got[(x, 3)] == (0, 0)      # full black row trimmed
        assert got[(5, x)] == (0, 0)      # full black column trimmed
        assert got[(x, 0)] == (0, 0) and got[(x, W - 1)] == (0, 0)
    assert got[(2, 5)] == (1, 255)        # island survives (not edge-run)
    assert got[(2, 2)] == (100, 255)


def test_band_statistics_integer_moments(spark):
    # hand-checkable 4-pixel band: values 1, 2, 3, 6
    # mean = 3, stddev = sqrt(4*50 - 144)/4 = sqrt(56)/4
    import math

    from gdal_spark.operators import raster as R

    df = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 2), (0, 1, 3), (1, 1, 6)],
        "gx bigint, gy bigint, value bigint")
    r = R.band_statistics(df).collect()[0]
    assert (r["vmin"], r["vmax"], r["n"]) == (1, 6, 4)
    assert r["mean"] == 3.0
    assert r["stddev"] == math.sqrt(4 * 50 - 12 * 12) / 4.0


def test_band_histogram_bucket_rule_and_clamp(spark):
    from gdal_spark.operators import raster as R

    df = spark.createDataFrame(
        [(i, 0, v) for i, v in enumerate([-3, 0, 9, 10, 19, 20, 99, 250])],
        "gx bigint, gy bigint, value bigint")
    # 10 buckets over [-0.5, 99.5): scale = 0.1... -> floor((v+0.5)*0.1)
    h = {r["bucket"]: r["cnt"] for r in R.band_histogram(
        df, vmin=-0.5, vmax=99.5, buckets=10).collect()}
    assert len(h) == 10 and sum(h.values()) == 6  # -3 and 250 dropped
    assert h[0] == 2   # 0 and 9
    assert h[1] == 2   # 10 and 19
    assert h[2] == 1   # 20
    assert h[9] == 1   # 99
    hc = {r["bucket"]: r["cnt"] for r in R.band_histogram(
        df, vmin=-0.5, vmax=99.5, buckets=10,
        include_out_of_range=True).collect()}
    assert hc[0] == 3 and hc[9] == 2  # -3 clamps low, 250 clamps high
    assert sum(hc.values()) == 8


def test_hsv_color_merge_matches_float32_reference(spark):
    """hsv_color_merge vs a numpy float32 transcription of the
    reference's rgb_to_hs/hsv_to_rgb (color_merge.cpp:130-229), with
    divisions pinned to double-then-float like the engine."""
    import numpy as np

    from gdal_spark.operators import raster as R

    f32 = np.float32

    def fdiv(a, b):
        return f32(np.float64(a) / np.float64(b))

    def ref(r, g, b, v):
        maxc, minc = max(r, g, b), min(r, g, b)
        d = maxc - minc
        s = fdiv(d, max(1, maxc))
        den6 = f32(1.0) if d == 0 else f32(6.0) * f32(d)
        if maxc == b:
            h = f32(4.0) / f32(6.0) + fdiv(r - g, den6)
        elif maxc == g:
            h = f32(2.0) / f32(6.0) + fdiv(b - r, den6)
        else:
            tmp = fdiv(g - b, den6)
            h = tmp + f32(1.0) if tmp < 0 else tmp
        i = int(f32(6.0) * h)
        f = f32(6.0) * h - f32(i)
        p = int(f32(v) * (f32(1.0) - s) + f32(0.5))
        q = int(f32(v) * (f32(1.0) - s * f) + f32(0.5))
        t = int(f32(v) * (f32(1.0) - s * (f32(1.0) - f)) + f32(0.5))
        ch = lambda a: a[min(i, 5)]
        return (ch((v, q, p, p, t, v)), ch((t, v, v, q, p, p)),
                ch((p, p, t, v, v, q)))

    rng = np.random.RandomState(11)
    n = 400
    rr = rng.randint(0, 256, n)
    gg = rng.randint(0, 256, n)
    bb = rng.randint(0, 256, n)
    vv = rng.randint(0, 256, n)
    # force edge cases: gray pixel (delta 0), saturated primaries, ties
    rr[:6] = [100, 255, 0, 7, 7, 200]
    gg[:6] = [100, 0, 255, 7, 200, 200]
    bb[:6] = [100, 0, 0, 7, 200, 7]
    color = spark.createDataFrame(
        [(i, 0, int(rr[i]), int(gg[i]), int(bb[i])) for i in range(n)],
        "gx bigint, gy bigint, r bigint, g bigint, b bigint")
    gray = spark.createDataFrame(
        [(i, 0, int(vv[i])) for i in range(n)],
        "gx bigint, gy bigint, value bigint")
    out = {r["gx"]: (r["r2"], r["g2"], r["b2"])
           for r in R.hsv_color_merge(color, gray).collect()}
    for i in range(n):
        assert out[i] == ref(int(rr[i]), int(gg[i]), int(bb[i]),
                             int(vv[i])), i


def test_nodata_to_alpha(spark):
    from gdal_spark.operators import raster as R

    df = spark.createDataFrame(
        [(0, 0, 0, 0, 0), (1, 0, 0, 0, 7), (2, 0, 10, 20, 30)],
        "gx bigint, gy bigint, r bigint, g bigint, b bigint")
    out = {r["gx"]: r["alpha"] for r in
           R.nodata_to_alpha(df, 0, ["r", "g", "b"]).collect()}
    # transparent only where EVERY band is nodata
    assert out == {0: 0, 1: 255, 2: 255}
    # per-band nodata list
    out2 = {r["gx"]: r["alpha"] for r in
            R.nodata_to_alpha(df, [10, 20, 30], ["r", "g", "b"]).collect()}
    assert out2 == {0: 255, 1: 255, 2: 0}


def test_label_pixels_random_raster_matches_bruteforce(spark, monkeypatch):
    """Random-value raster: distributed border-band CCL stitch must
    reproduce a driver-side union-find exactly (comp = min pid per
    component), for 4- and 8-conn and a tile size that does NOT divide
    the raster — pins the r5 border-band stitch (every cross-tile
    equivalence endpoint lies within 1 px of a tile line). The last
    input lowers the driver union-find limit to 0, so the label graph
    resolves through the Spark min-label propagation loop."""
    import numpy as np

    rng = np.random.default_rng(7)
    W = H = 40
    vals = rng.integers(0, 2, size=(H, W))
    rows = [(int(x), int(y), int(vals[y, x]))
            for y in range(H) for x in range(W)]
    df = spark.createDataFrame(rows, "px bigint, py bigint, value bigint")

    def brute(connect):
        parent = list(range(W * H))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        def union(i, j):
            ri, rj = find(i), find(j)
            if ri != rj:
                lo, hi = (ri, rj) if ri < rj else (rj, ri)
                parent[hi] = lo

        offs = [(1, 0), (0, 1)] + ([(1, 1), (-1, 1)] if connect == 8 else [])
        for y in range(H):
            for x in range(W):
                for dx, dy in offs:
                    nx, ny = x + dx, y + dy
                    if 0 <= nx < W and 0 <= ny < H and vals[ny, nx] == vals[y, x]:
                        union(y * W + x, ny * W + nx)
        return {i: find(i) for i in range(W * H)}

    from gdal_spark.operators import raster

    driver = raster.LABEL_DRIVER_MAX_EDGES
    for connect, tile, max_edges in ((4, 16, driver), (8, 16, driver),
                                     (8, 13, driver), (8, 13, 0)):
        monkeypatch.setattr(raster, "LABEL_DRIVER_MAX_EDGES", max_edges)
        got = raster.label_pixels(df, width=W, tile=tile,
                                  connect=connect).toPandas()
        exp = brute(connect)
        assert len(got) == W * H
        for r in got.itertuples():
            assert exp[int(r.pid)] == int(r.comp), (connect, tile, max_edges, r)


def test_label_pixels_leaves_no_persisted_rdds(spark):
    """The cross-tile edge table is cached only while the driver
    union-find reads it, and the border band only until the caller's
    `cache.scope()` exits; the returned plan holds no cached RDD. RDD
    ids, not counts: Spark's ContextCleaner may drop other tests'
    garbage-collected checkpoint RDDs at any time. The raster is one
    no other test builds: Spark matches equal cached plans across
    calls, so a shared one could hide a leak."""
    from gdal_spark import cache
    from gdal_spark.operators import raster

    def persisted():
        return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet()}

    before = persisted()
    px = raster.synth_raster(spark, 72, 40, block=10, n_values=3)
    with cache.scope():
        lab = raster.label_pixels(px, width=72, tile=16)
    assert persisted() <= before
    # 10-px blocks of 3 values: each block is one component
    assert lab.select("comp").distinct().count() == (72 // 10 + 1) * (40 // 10)
    assert persisted() <= before
