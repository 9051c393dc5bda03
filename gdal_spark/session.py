"""SparkSession factory tuned for the engine.

Scale stance: the same conf keys drive a real multi-executor cluster;
locally `local[N]` is the sandbox proxy for N executors (BASELINE.md
two-cluster-size criterion). AQE is on so skewed cell joins re-plan at
runtime; shuffle partitions default to cores (overridable by env).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """`spark.driver.memory` default: min(24g, half of physical RAM), so
    the driver heap can never outgrow the host; 24g when RAM is unknown."""
    try:
        with open(meminfo) as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError, IndexError):
        return "24g"
    return f"{min(24 * 1024, kb // 2048)}m"


def get_spark(app: str = "gdal_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("GDAL_SPARK_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("GDAL_SPARK_SHUFFLE", str(max(cpus, 8))))
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("GDAL_SPARK_DRIVER_MEM") or default_driver_memory())
        # InferFiltersFromGenerate adds `size(e) > 0 AND isnotnull(e)`
        # under every explode and pushes it to the scan, substituting
        # the generator-input ALIASES into the predicate. Our geometry
        # fixtures build vertex arrays from deep closed-form column
        # math, so the inferred (always-true: the arrays are literal-
        # built and non-empty) predicate textually duplicates that
        # whole chain and blew janino's 64 KB whole-stage-codegen limit
        # on the explode stages. Excluding the rule keeps explode
        # stages codegen'd; real input filters are unaffected.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
