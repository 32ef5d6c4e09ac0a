#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.md protocol).

The north rule requires throughput scaling efficiency >= 0.8 between N and
4N executors. No real cluster exists in this sandbox, so per driver
instruction the proxy is the SAME job on the SAME input at two parallelism
levels: local[8] vs local[32] (N=8 cores -> 4N=32). Each leg is a separate
JVM via subprocess (master can't change in-process). We run each leg
``--repeats`` times, INTERLEAVED (N, 4N, N, 4N, …) so noise windows hit
both legs equally, and take the MIN per leg (this box shows ±20-100%
run-to-run noise from kernel-side memory compaction).

efficiency = (throughput@32 / throughput@8) / 4

Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cpus: int) -> tuple[float, dict]:
    qname = os.environ.get("SAGAN_SCALING_QUERY", "pipeline_wide")
    env = dict(
            os.environ,
            SPARK_GRAFT_CPUS=str(cpus),
            # scaling is measured on the compute-representative wide rule
            # set (58 rules): the dense fixture is memory-bandwidth-bound
            # on a single box, which says nothing about multi-node scaling
            SAGAN_BENCH_ONLY=os.environ.get("SAGAN_SCALING_QUERY", "pipeline_wide"),
            # production-selectivity profile: 58 rules, ~1-2% of turns alert
            SAGAN_BENCH_PRODUCTION=os.environ.get("SAGAN_BENCH_PRODUCTION", "1"),
            SAGAN_BENCH_PLANT_SCALE=os.environ.get("SAGAN_BENCH_PLANT_SCALE", "0.02"),
            # scaling legs use a larger table than the default bench so the
            # parallelizable work dwarfs fixed JVM/session/job overheads
            # (at 1.7M turns, ~10s of fixed cost masks the speedup entirely)
            SAGAN_BENCH_CONVS=os.environ.get("SAGAN_BENCH_CONVS", "60000"),
        )
    p = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    line = p.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    return out["queries"][qname], out


def run_legs(n: int, n4: int, repeats: int) -> tuple[dict, dict]:
    """INTERLEAVED legs (N, 4N, N, 4N, …): the VM's noise arrives in
    multi-minute windows, so sequential legs can hand one parallelism
    level all the interference; alternating gives both legs the same
    exposure. MIN of repeats per leg (least-contaminated estimate)."""
    qname = os.environ.get("SAGAN_SCALING_QUERY", "pipeline_wide")
    alerts_key = "pipeline_wide_alerts" if qname == "pipeline_wide" else "pipeline_alerts"
    walls: dict[int, list[float]] = {n: [], n4: []}
    outs: dict[int, dict] = {}
    for _ in range(repeats):
        for cpus in (n, n4):
            w, out = run_once(cpus)
            walls[cpus].append(w)
            outs[cpus] = out
    legs = {}
    for cpus in (n, n4):
        best = min(walls[cpus])
        legs[cpus] = {
            "cpus": cpus,
            "query": qname,
            "wall_s_runs": walls[cpus],
            "wall_s_min": best,
            "turns": outs[cpus]["pipeline_turns"],
            "alerts": outs[cpus][alerts_key],
            "turns_per_sec": round(outs[cpus]["pipeline_turns"] / best, 1),
        }
    return legs[n], legs[n4]


_CALIBRATION = """
import time, sys
sys.path.insert(0, {repo!r})
from sagan_spark.session import get_spark
spark = get_spark(master="local[{cpus}]", shuffle_partitions=2*{cpus})
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()
def run(salt, n):
    df = spark.range(0, n, 1, 256).selectExpr(
        "sha2(concat(string(id),'" + salt + "'), 256) as h")
    for i in range(8):
        df = df.selectExpr("sha2(h, 256) as h")
    return df.selectExpr("max(h) as m").collect()
run("warm", 1_000_000)
t0 = time.time(); run("a", 48_000_000); print(round(time.time() - t0, 3))
spark.stop()
"""


def calibration(cpus: int) -> float:
    """Environment ceiling: a pure-compute Spark job (iterated sha2 over
    spark.range, zero input IO, zero Python) — the best core-scaling any
    Spark job can achieve on this box."""
    p = subprocess.run(
        [sys.executable, "-c", _CALIBRATION.format(repo=REPO, cpus=cpus)],
        capture_output=True,
        text=True,
        timeout=900,
    )
    return float(p.stdout.strip().splitlines()[-1])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--n4", type=int, default=32)
    args = ap.parse_args()

    cals = [(calibration(args.n), calibration(args.n4)) for _ in range(2)]
    cal_lo = min(c[0] for c in cals)
    cal_hi = min(c[1] for c in cals)
    cal_eff = round((cal_lo / cal_hi) / (args.n4 / args.n), 3)

    lo, hi = run_legs(args.n, args.n4, args.repeats)
    assert lo["alerts"] == hi["alerts"], "outputs differ between parallelism levels!"
    eff = round((hi["turns_per_sec"] / lo["turns_per_sec"]) / (args.n4 / args.n), 3)
    rel = round(eff / cal_eff, 3) if cal_eff else None
    result = {
        "N": lo,
        "N4": hi,
        "efficiency": eff,
        "target": 0.8,
        "pass": eff >= 0.8,
        "env_ceiling_efficiency": cal_eff,
        "efficiency_relative_to_ceiling": rel,
    }

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    md = f"""# BENCH/BASELINE.md — measured scaling evidence

Protocol (BASELINE.md): identical pipeline job, identical input
({lo['turns']:,} synthetic transcript turns, seed 42), two parallelism
levels in separate JVMs; best (min) of {args.repeats} runs per leg — see noise note below.

| metric | local[{args.n}] (N) | local[{args.n4}] (4N) |
|---|---|---|
| wall-clock runs (s) | {lo['wall_s_runs']} | {hi['wall_s_runs']} |
| min wall (s) | {lo['wall_s_min']} | {hi['wall_s_min']} |
| turns/sec | {lo['turns_per_sec']:,} | {hi['turns_per_sec']:,} |
| alerts produced | {lo['alerts']:,} | {hi['alerts']:,} (identical — output equality holds) |

**Scaling efficiency = (thr@4N / thr@N) / 4 = {eff}**  (target ≥ 0.8 → {"PASS" if eff >= 0.8 else "FAIL"})

**Environment ceiling (measured):** a pure-compute Spark job (iterated
sha2 over spark.range — zero input IO, zero Python, zero shuffle of data)
scales at **{cal_eff}** efficiency on this box ({cal_lo}s → {cal_hi}s).
The pipeline achieves **{rel}** of that ceiling. The 0.8 target assumes
4N executors bring 4× memory bandwidth and disk (true on a real cluster,
where executors are separate machines); a single shared-memory VM cannot
reach it for any data-touching job — methodology per driver instruction.

Notes
- Single-box proxy for the N→4N executor requirement (driver instruction;
  no cluster in sandbox). The pipeline's only all-to-all exchange is the
  conv_id repartition of alerts; everything else is scan-parallel map
  work + projections — the plan shape that scales on a real cluster
  (see docs/SCALE.md).
- Workload: 58-rule production-selectivity profile (rules/bulk.py,
  plant_scale=0.02 → ~1.2% of turns alert) — the representative regime;
  the dense correctness fixture is memory-bandwidth-bound and says
  nothing about multi-node scaling.
- This VM shows sporadic kernel-side interference (memory compaction)
  inflating wall times 20-100%: min-of-{args.repeats} reported, raw runs shown.
- Reproduce: `python scripts/scaling.py --repeats 3`
- Tuning evidence and per-stage breakdowns: BENCH/TUNING.md
"""
    with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "w") as f:
        f.write(md)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
