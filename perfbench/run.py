"""gdal_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload join_tile --seed 1 --seconds 10 --trace 0

Run from the repository root or anywhere else; the engine is imported
from the directory above this file. The run:

1. starts the Spark session with the engine's defaults at local[nproc]
   and builds the workload's fixtures three times; set-up time is
   process start to session up plus the median build;
2. writes the seeded inputs with the engine's doc generator (cached by
   seed and size under .perfbench_work/, outside every timing);
3. runs warm-up reps (the first one cold, then for WARMUP_S seconds),
   then timed reps for --seconds;
4. checks every rep's output fingerprint against a reference computed
   by DuckDB from the same inputs (recorded next to them on first use);
5. with --trace 1, splits --seconds between untraced reps and traced
   reps that force each layer's output at its boundary and read the
   executed plans' metrics, measures the layers of the other workloads
   (pyramid_write included) on the same seed, then reruns the pipeline
   warm at local[1].

The last stdout line is {"correct", "attempted", "failed", "metrics"};
the line before it is the run record (stamp, host steal, per-rep times
and fingerprints). Traced runs write their spans to .perfbench_work/.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
FIXTURE_BUILDS = 3
WARMUP_S = 6.0  # warm-up reps after the first, in seconds


def _prepare_env() -> None:
    """Environment for the Spark driver process, its JVM and the Python workers,
    set before the JVM starts. All scratch files stay in WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell")
    for k in ("GDAL_SPARK_MASTER", "GDAL_SPARK_SHUFFLE", "GDAL_SPARK_DRIVER_MEM"):
        os.environ.pop(k, None)  # engine defaults only


def _source_stamp() -> dict:
    """Git sha when run in a git checkout, and a digest of the engine
    sources either way."""
    sha = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "gdal_spark")
    for dirpath, dirnames, files in sorted(os.walk(pkg)):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return {"git_sha": sha, "src_sha256": h.hexdigest()[:16]}


class Rep:
    """Runs reps and logs each one's workload, wall time, output
    fingerprint, host steal, process-tree CPU, peak process-tree RSS
    and persisted-RDD counts before and after."""

    def __init__(self, wl, spark, fx, rss):
        self.wl, self.spark, self.fx, self.rss = wl, spark, fx, rss
        self.workloads = {wl.name: wl}
        self.log: list[dict] = []

    def __call__(self, kind: str, fn=None, wl=None) -> float | None:
        """One rep of `fn` (default: the workload's run), whose output
        belongs to workload `wl` (default: this run's). Returns its wall
        time, or None if it raised."""
        from probes import host_steal_s, persistent_rdds, tree_cpu_s

        wl = wl or self.wl
        self.workloads[wl.name] = wl
        fn = fn or (lambda: self.wl.run(self.spark, self.fx))
        rec = {"kind": kind, "workload": wl.name}
        self.log.append(rec)
        before = len(persistent_rdds(self.spark))
        steal, cpu = host_steal_s(), tree_cpu_s()
        self.rss.window()
        t = time.perf_counter()
        try:
            fp = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["error"] = True
            return None
        dt = time.perf_counter() - t
        rec.update(s=dt, fp=list(fp), steal_s=host_steal_s() - steal,
                   cpu_s=tree_cpu_s() - cpu, rss_mb=self.rss.window(),
                   persistent_rdds=[before, len(persistent_rdds(self.spark))])
        return dt

    def check(self, offset: int = 0) -> int:
        """Marks each rep ok or not against its workload's expected
        fingerprint (plus `offset`, for the self-test); returns the
        number of failed reps."""
        self.expected = {name: list(wl.expected()) for name, wl in self.workloads.items()}
        for r in self.log:
            n, s = self.expected[r["workload"]]
            r["ok"] = not r.get("error") and r["fp"] == [n, s + offset]
        return sum(not r["ok"] for r in self.log)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="driving-table rows (default: the workload's size)")
    ap.add_argument("--expect-offset", type=int, default=0,
                    help="add to the expected fingerprint sum (self-test: "
                         "a wrong expectation must fail every rep)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "gdal_spark", "__init__.py")):
        print(f"perfbench: engine package gdal_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    _prepare_env()

    import probes as P
    from gdal_spark.session import get_spark

    record: dict = {"workload": args.workload, "seed": args.seed, **_source_stamp(),
                    "nproc": os.environ["SPARK_GRAFT_CPUS"]}
    spark = rss = None
    try:
        spark = get_spark("perfbench")
        session_s = P.process_age_s()
        # the fixtures are built several times, the median counts; the
        # session starts once, as a second JVM start would cost more run
        # time than its median would save in spread
        rows = args.rows or W.SIZES[args.workload]
        wl = W.WORKLOADS[args.workload](WORK, args.seed, rows)
        fixture_times, fx = [], {}
        for _ in range(FIXTURE_BUILDS):
            t = time.perf_counter()
            fx = wl.fixtures(spark)
            fixture_times.append(time.perf_counter() - t)
        setup_s = session_s + _median(fixture_times)
        t = time.perf_counter()
        wl.inputs(spark)  # after set-up and outside every timing
        record["inputs_s"] = time.perf_counter() - t
        record.update(P.spark_stamp(spark), calibration_s=P.calibration_s())

        rss = P.RssSampler().start()
        rep = Rep(wl, spark, fx, rss)
        # JIT and Python-worker warm-up: the first rep runs 2-3x slower
        # than a steady one, and the next ones keep getting faster for
        # several more seconds
        cold = rep("warmup")
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < WARMUP_S:
            rep("warmup")

        # a traced run splits --seconds between untraced and traced reps
        budget = args.seconds / 2 if args.trace else args.seconds
        n_timed = 0
        cpu0, gc0, steal0 = P.tree_cpu_s(), P.jvm_gc_ms(spark), P.host_steal_s()
        t0 = time.perf_counter()
        while n_timed < 2 or time.perf_counter() - t0 < budget:
            rep("timed")
            n_timed += 1
        timed = [r for r in rep.log if r["kind"] == "timed" and "s" in r]
        rep_s = _median([r["s"] for r in timed])
        peak_rss_mb = _median([r["rss_mb"] for r in timed])
        record.update(
            cpu_s_per_rep=(P.tree_cpu_s() - cpu0) / n_timed,
            gc_ms_per_rep=(P.jvm_gc_ms(spark) - gc0) / n_timed,
            steal_s=P.host_steal_s() - steal0,
            peak_rss_mb=peak_rss_mb,
            peak_rss_split_mb=rss.peak_split,
        )

        layers = {}
        if args.trace:
            import tracing
            layers, spark = tracing.traced(wl, spark, fx, rep, budget, WORK,
                                           untraced_s=rep_s, seed=args.seed,
                                           cover_s=_median(fixture_times))
            layers.update({
                "session.start_s": session_s,
                "run.cold_rep_s": cold or 0.0,
                "run.peak_rss_mb": peak_rss_mb,
                "run.cpu_s": record["cpu_s_per_rep"],
                "run.gc_ms": record["gc_ms_per_rep"],
                "run.calibration_s": record["calibration_s"],
            })

        t = time.perf_counter()
        failed = rep.check(args.expect_offset)
        record["expected_s"] = time.perf_counter() - t
    finally:
        if rss is not None:
            rss.stop()
        t = time.perf_counter()
        _stop(spark)  # the JVM must not outlive the run, whatever happened
        record["stop_s"] = time.perf_counter() - t

    attempted = len(rep.log)
    record.update(expected_fp=rep.expected, expect_offset=args.expect_offset,
                  setup_s=setup_s,
                  fixture_s=fixture_times, reps=rep.log,
                  attempted=attempted, failed=failed,
                  fail_ratio=failed / attempted)
    if args.trace:
        values, kind = layers, "per_layer"
    else:
        values, kind = {
            "rows_per_s": rows / rep_s if rep_s else 0.0,
            "setup_s": setup_s,
            "ok_ratio": (attempted - failed) / attempted,
        }, "end_to_end"
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)[kind]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in spec}
    record["process_s"] = P.process_age_s()
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _stop(spark) -> None:
    """Stop Spark and the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
