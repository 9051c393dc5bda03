"""Driver contract for the spark-graft builder (PySpark target).

entry()      — flagship spatial-join + tile-assignment pipeline (sf0.001)
queries()    — one entry per implemented operator (SURVEY.md §2 + the
               training-data-pipeline extensions)
oracle_sql() — DuckDB-runnable ANSI SQL twins, one exact oracle per
               query (same names, same order).

Implementations live in gdal_spark.queries — this module is the thin
stable adapter the driver imports.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from gdal_spark import queries as Q


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return Q.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(Q.QUERIES)


def oracle_sql() -> dict[str, str]:
    return {name: fn() for name, fn in Q.ORACLES.items()}
