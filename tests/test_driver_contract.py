"""Driver-contract smoke + a DuckDB oracle spot check at sf0.001.

The full 50-entry oracle gate runs via tools/check_correctness.py (and
the driver itself at sf0.01); here we pin the contract shape and a fast
representative subset so `pytest -x -q` catches registry breakage.
"""
from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
SUBSET = ["tile_assign_suite", "spatial_join", "spatial_join_bigring",
          "ogr_summary", "text_suite", "similarity_topk",
          "warp_kernels_suite", "terrain_suite", "polygonize"]


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb.connect()
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return c


def test_contract_shape():
    qs = E.queries()
    oracles = E.oracle_sql()
    assert len(qs) >= 25
    # the driver correctness gate caps at 50 checked queries; the
    # registry must fit so EVERY entry is re-verified every round
    assert len(qs) <= 50, "registry exceeds the 50-slot driver gate"
    missing = set(oracles) - set(qs)
    assert not missing, f"oracles without queries: {missing}"
    # every registered query carries an exact DuckDB oracle (since r2
    # even the IVF paths do — the bucketing is deterministic)
    assert set(qs) - set(oracles) == set()


def test_entry_smoke(spark):
    df = E.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"id", "poly_id", "tx", "ty_xyz", "quadkey"}


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, sf_dir, con, name):
    got = E.queries()[name](spark, sf_dir).toPandas()
    exp = con.execute(E.oracle_sql()[name]).df()
    cols = sorted(got.columns)
    assert cols == sorted(exp.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = exp[cols].sort_values(cols).reset_index(drop=True)
    assert len(a) == len(b)
    for c in cols:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            import numpy as np

            x = av.astype(float).values
            y = bv.astype(float).values
            # NaN-padded suite slots: the driver compares value reprs,
            # where nan == nan — mirror that here
            assert ((x == y) | (np.isnan(x) & np.isnan(y))).all(), c
        else:
            assert av.astype(str).tolist() == bv.astype(str).tolist(), c
