"""Self-test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_selftest.py -q

Starts Spark four times (a few minutes on 4 cores). Every run is
launched from a temporary working directory, so the test also checks
that the benchmark does not depend on the caller's directory.
"""
from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = ["--rows", "3000", "--seconds", "1"]


def _run(cwd, *args):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def _spec(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _units(result):
    return {k: v["unit"] for k, v in result["metrics"].items()}


def test_end_to_end_metrics_are_printed_with_units(tmp_path):
    _, res = _run(tmp_path, "--workload", "join_tile", "--seed", "1", "--trace", "0", *TINY)
    assert _units(res) == _spec("end_to_end")
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 3
    assert res["metrics"]["ok_ratio"]["value"] == 1.0
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_per_layer_metrics_are_printed_with_units(tmp_path):
    rec, res = _run(tmp_path, "--workload", "knn", "--seed", "1", "--trace", "1", *TINY)
    assert _units(res) == _spec("per_layer")
    assert res["correct"]
    # every layer is measured, the ones outside knn's pipeline by the
    # side reps, whose outputs are checked too
    assert {r["workload"] for r in rec["reps"]} == {"knn", "join_tile", "pyramid_write"}
    # self times are span differences, which can clip to 0 at this size
    may_be_zero = {"knn.cached_rdds_left", "tiling.spill_bytes", "run.gc_ms",
                   "spatial_join.s", "tiling.assign_s", "tiling.pyramid_s", "knn.s"}
    assert all(m["value"] >= 0 for m in res["metrics"].values())
    assert all(m["value"] > 0 for k, m in res["metrics"].items() if k not in may_be_zero)


def test_seed_changes_the_input_fingerprint(tmp_path):
    a, _ = _run(tmp_path, "--workload", "join_tile", "--seed", "1", "--trace", "0", *TINY)
    b, _ = _run(tmp_path, "--workload", "join_tile", "--seed", "2", "--trace", "0",
                "--expect-offset", "1", *TINY)
    assert a["expected_fp"] != b["expected_fp"]
    # a deliberately wrong expected fingerprint fails every rep
    assert b["failed"] == len(b["reps"]) > 0
    assert b["fail_ratio"] == 1.0


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "join_tile",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
