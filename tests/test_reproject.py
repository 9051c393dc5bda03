"""Reprojection tests: closed-form roundtrip + approx transformer
error bound."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_spark.kernels import mercator
from gdal_spark.operators import reproject


def test_closed_form_roundtrip(spark):
    df = spark.range(2000).select(
        F.col("id"),
        (F.rand(seed=1) * 360 - 180).alias("lon"),
        (F.rand(seed=2) * 170 - 85).alias("lat"),
    )
    out = reproject.roundtrip_error(df)
    assert out.filter(F.col("err") > 1e-9).count() == 0


def test_mercator_columns_match_kernel(spark):
    df = spark.createDataFrame(
        [(1, 2.3522, 48.8566), (2, -180.0, -85.0), (3, 0.0, 0.0)],
        "id bigint, lon double, lat double",
    )
    got = reproject.to_mercator(df).orderBy("id").toPandas()
    mx, my = mercator.lat_lon_to_meters(got["lat"].to_numpy(), got["lon"].to_numpy())
    # mx is pure arithmetic -> bit-identical; my goes through tan/log,
    # where JVM and numpy libm may differ by 1 ulp of ~2e7 m (~4e-9)
    np.testing.assert_array_equal(got["mx"].to_numpy(), mx)
    np.testing.assert_allclose(got["my"].to_numpy(), my, atol=1e-7)


def test_reproject_udf_gated_without_pyproj():
    if reproject.HAVE_PYPROJ:
        pytest.skip("pyproj present")
    import pandas as pd

    with pytest.raises(NotImplementedError):
        reproject.reproject_udf(None, 4326, 3857)


def test_approx_transform_error_bound():
    calls = {"n": 0}

    def expensive(xs):
        calls["n"] += len(xs)
        _, lat = mercator.meters_to_lat_lon(np.zeros_like(xs), xs)
        return lat

    xs = np.linspace(-18_000_000, 18_000_000, 4097)
    exact = expensive(xs)
    calls["n"] = 0
    tol = 1e-4  # degrees
    approx = reproject.approx_transform_line(xs, expensive, tol=tol)
    # contract 1: error within the reference-style bound (tolerance is
    # checked at probe points; allow 4x headroom between probes)
    assert np.max(np.abs(approx - exact)) < 4 * tol
    # contract 2: far fewer exact evaluations than points
    assert calls["n"] < len(xs) / 3


def test_approx_transform_exact_at_zero_tolerance_probes():
    def f(xs):
        return xs * 2.0 + 1.0  # affine -> lerp is exact

    xs = np.linspace(0, 100, 1025)
    out = reproject.approx_transform_line(xs, f, tol=1e-12)
    np.testing.assert_allclose(out, f(xs), atol=1e-9)


def test_utm_sql_matches_numpy_kernel_and_is_python_free(spark):
    # the codegen column path consumes the kernels.tmerc literals; it
    # may differ from the numpy kernel only at libm-ulp level
    import numpy as np

    from gdal_spark.kernels import tmerc

    pts = spark.range(5000).selectExpr(
        "id",
        "CAST(-0.9 + (id % 617) / 350.0 AS DOUBLE) AS lon",
        "CAST(36.0 + (id % 401) / 67.0 AS DOUBLE) AS lat",
    )
    rt = reproject.utm_inverse_cols(reproject.utm_forward_cols(pts, 31), 31)
    a = rt.orderBy("id").toPandas()
    e, n = tmerc.utm_forward(a["lon"].to_numpy(), a["lat"].to_numpy(), 31)
    lon, lat = tmerc.utm_inverse(a["easting"].to_numpy(), a["northing"].to_numpy(), 31)
    assert np.abs(a["easting"] - e).max() < 1e-6   # meters
    assert np.abs(a["northing"] - n).max() < 1e-6
    assert np.abs(a["lon_inv"] - lon).max() < 1e-11  # degrees
    assert np.abs(a["lat_inv"] - lat).max() < 1e-11
    # the plan must be pure JVM: no Python evaluation nodes at all
    plan = rt._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
