"""Isolated per-query bench runs — one fresh JVM per query.

VERDICT r2 flagged sub-3s per-query regressions in the shared-JVM
suite bench (GC + broadcast-cache pressure from 8 added queries) and
asked r3 to separate suite-crowding noise from real regressions.
This tool runs each query in its OWN SparkSession/JVM (subprocess),
warmup + best-of-2, and writes BENCH/bench_isolated.json (round-neutral; r3's record stays in bench_r3_isolated.json).

Usage: python tools/bench_isolated.py [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32).
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

DEFAULT = ["headline_join_tile", "tile_assign_suite", "pyramid_counts",
           "spatial_join", "spatial_join_wkb", "spatial_join_bigring",
           "rasterize_suite", "overview_suite", "similarity_topk", "knn",
           "minhash_lsh",
           "spatial_join_bigpoly_grouped",
           "rpc_dem_inverse_broadcast", "rpc_dem_inverse_gather"]

WORKER = r"""
import json, os, sys, time
os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
sys.path.insert(0, {repo!r})
import __spark_entry__ as E
from bench import force
from gdal_spark import cache
from gdal_spark.session import get_spark

name, sf_dir, cpus = sys.argv[1], sys.argv[2], sys.argv[3]
spark = get_spark("bench-iso", master=f"local[{{cpus}}]")

qs = E.queries()
if name in qs:
    fn = qs[name]
else:
    from tools.bench_extra import EXTRA   # bench-only workloads
    fn = EXTRA[name]
# each run in its own scope, so every rep times the COLD query
# (CacheManager plan-matching would otherwise serve rep N the rep N-1
# index tables and break comparability with the pre-persist r3/r4
# records); a session-wide cache clear would also drop the io manifest
with cache.scope():
    force(fn(spark, sf_dir))      # warmup: codegen + UDF worker pool
best = float("inf")
for _ in range(2):
    with cache.scope():
        t0 = time.time()
        force(fn(spark, sf_dir))
        best = min(best, time.time() - t0)
print(json.dumps({{"query": name, "sec": round(best, 3)}}))
"""


def main() -> None:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:] or DEFAULT
    path = os.path.join(repo, "BENCH", "bench_isolated.json")
    out: dict[str, float] = {}
    if os.path.exists(path):  # merge: partial runs extend the record
        with open(path) as f:
            out = json.load(f).get("queries", {})
    for name in names:
        r = subprocess.run(
            [sys.executable, "-c", WORKER.format(repo=repo),
             name, sf_dir, cpus],
            capture_output=True, text=True, timeout=900,
        )
        line = [ln for ln in r.stdout.splitlines() if ln.startswith("{")]
        if not line:
            print(f"FAIL {name}: {r.stderr[-500:]}")
            continue
        rec = json.loads(line[-1])
        out[rec["query"]] = rec["sec"]
        print(f"{name}: {rec['sec']}s (isolated)")
    with open(path, "w") as f:
        json.dump({"sf_dir": sf_dir, "cpus": int(cpus),
                   "mode": "one JVM per query, warmup + best-of-2",
                   "queries": out}, f, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
