"""Output schema of every registry entry, pinned.

The oracle gate compares value reprs, so a column that drifts from
bigint to int (or double to decimal) still passes it. Here each
entry's Spark schema (names and types, no nullability) must equal the
one recorded in tests/registry_schemas.json. No result is collected,
but some entries run small Spark jobs while their plan is built.

Change the JSON file only for an intended schema change.
"""
from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

with open(os.path.join(os.path.dirname(__file__), "registry_schemas.json")) as f:
    EXPECTED = json.load(f)


def test_schema_file_lists_the_registry_in_order():
    assert list(EXPECTED) == list(E.queries())


@pytest.mark.parametrize("name", list(EXPECTED))
def test_entry_schema(spark, sf_dir, name):
    df = E.queries()[name](spark, sf_dir)
    assert df.schema.simpleString() == EXPECTED[name]
