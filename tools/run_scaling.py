"""Two-cluster-size scaling run (north_rule criterion).

No real cluster exists in this sandbox, so the N -> 4N executor
criterion is evidenced by running the SAME headline job on the SAME
input at local[N] and local[4N] (each a fresh JVM) and reporting
throughput at both plus scaling efficiency = (rate_4N/rate_N)/4.

The host is itself a shared VM: a raw-CPU calibration (pure python
busy-loop at N and 4N processes) is measured alongside, so engine
efficiency can be read against the machine's own ceiling.

Writes BENCH/BASELINE.md. Usage:
    python tools/run_scaling.py [n_docs] [N]   (default 8_000_000, N=4)
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _burn(_):
    t = time.time()
    x = 0
    while time.time() - t < 2.0:
        x += 1
    return x


def raw_cpu(n: int) -> float:
    with mp.Pool(n) as p:
        return float(sum(p.map(_burn, range(n))))


def run(cpus: int, n_docs: int) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_BENCH_DOCS": str(n_docs),
        "SPARK_GRAFT_BENCH_ONLY": "headline",
        "SPARK_GRAFT_BENCH_REPS": "3",
        "SPARK_LOCAL_IP": "127.0.0.1",
    })
    p = subprocess.run(
        [sys.executable, "bench.py"], env=env, capture_output=True, text=True, cwd=REPO,
    )
    line = [l for l in p.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_pairs = int(os.environ.get("SPARK_GRAFT_SCALING_PAIRS", "3"))
    n4 = 4 * n
    cal_lo, cal_hi = raw_cpu(n), raw_cpu(n4)
    machine_eff = (cal_hi / cal_lo) / 4.0
    # INTERLEAVED leg pairs: this shared-VM host drifts +-25% between
    # minutes (steal + per-core turbo), so a single (N, 4N) pair is
    # noise-dominated. Adjacent pairs share a drift window; the median
    # per-pair efficiency is the drift-robust estimate, and all
    # samples are published.
    pairs = []
    for _ in range(n_pairs):
        r_lo = run(n, n_docs)
        r_hi = run(n4, n_docs)
        pairs.append((r_lo, r_hi, (r_hi["value"] / r_lo["value"]) / 4.0))
    pairs_by_eff = sorted(pairs, key=lambda p: p[2])
    r_lo, r_hi, eff = pairs_by_eff[len(pairs_by_eff) // 2]  # median pair
    rate_lo, rate_hi = r_lo["value"], r_hi["value"]
    rel = eff / machine_eff if machine_eff else 0.0
    sample_lines = "\n".join(
        f"| pair {i} | {lo['value']:,.0f} | {hi['value']:,.0f} | {e:.3f} |"
        for i, (lo, hi, e) in enumerate(pairs)
    )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = f"""# BENCH/BASELINE — two-cluster-size scaling (north_rule)

Same headline job (spatial join + tile assignment over {n_docs:,}
interleaved docs read from parquet, spans carried to the sink,
broadcast cell-join plan, zero point-side shuffle) at two parallelism
levels — the sandbox proxy for N vs 4N executors:

| config | docs/sec | wall best (s) | joined rows |
|---|---|---|---|
| local[{n}]  (N)  | {rate_lo:,.0f} | {r_lo['queries']['headline_join_tile']} | {r_lo['joined_rows']:,} |
| local[{n4}] (4N) | {rate_hi:,.0f} | {r_hi['queries']['headline_join_tile']} | {r_hi['joined_rows']:,} |

**Engine scaling efficiency (N -> 4N) = (rate_4N / rate_N) / 4 = {eff:.3f}**
(median of {len(pairs)} interleaved leg pairs; north_rule target >= 0.8).

All interleaved samples (the shared-VM host drifts +-25% between
minutes — steal + per-core turbo, which inflates the low-parallelism
leg; adjacent pairs share a drift window):

| sample | docs/sec @{n} | docs/sec @{n4} | efficiency |
|---|---|---|---|
{sample_lines}

Machine calibration: a pure-CPU busy-loop on this shared-VM host
scales {n}->{n4} processes at {machine_eff:.3f} efficiency (host
steal/frequency effects — no SMT, {os.cpu_count()} advertised cores).
Median engine efficiency relative to the machine's own ceiling:
**{rel:.3f}**.

Why the plan scales: tile/cell assignment is whole-stage-codegen
column math (no shuffle); the polygon cover broadcasts; the exact-PIP
stage is column arithmetic inside the broadcast join (an Arrow-batched
pandas UDF on dense covers); the only wide operation is the final
reduce. On a real 4N-executor cluster
the same plan adds only O(log n_executors) broadcast fan-out.
"""
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve earlier records: the previous file body is appended
    # under a dated separator instead of being overwritten
    prior = ""
    if os.path.exists(path):
        with open(path) as f:
            prior = f.read().strip()
    # drop any previously-quoted superseded section so repeated runs do not
    # nest blockquotes recursively — only the latest real record is re-quoted
    cut = prior.find("## Superseded earlier record")
    if cut != -1:
        prior = prior[:cut].rstrip()
        if prior.endswith("---"):
            prior = prior[: -3].rstrip()
    # carry the hand-maintained cross-round history table forward at the top
    # level (it summarizes every round; quoting it away loses the comparison)
    hist_cut = prior.find("## Cross-round history")
    if hist_cut != -1:
        history = prior[hist_cut:].strip()
        prior = prior[:hist_cut].rstrip()
        if prior.endswith("---"):
            prior = prior[: -3].rstrip()
        md += "\n\n" + history + "\n"
    if prior:
        md += ("\n\n---\n\n## Superseded earlier record (kept for "
               "cross-round comparability)\n\n"
               + "\n".join("> " + ln for ln in prior.splitlines()) + "\n")
    with open(path, "w") as f:
        f.write(md)
    print(json.dumps({
        f"rate{n}": rate_lo, f"rate{n4}": rate_hi,
        "efficiency": round(eff, 3), "machine_ceiling": round(machine_eff, 3),
        "relative": round(rel, 3),
    }))


if __name__ == "__main__":
    main()
