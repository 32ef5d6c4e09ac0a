#!/usr/bin/env python
"""Per-stage scaling breakdown (VERDICT round-2 item 4).

Times cumulative plan prefixes of the wide production-profile pipeline at
two parallelism levels, in separate JVMs, to locate where extra cores
stall. Stages:

  scan     — parquet scan + prepare projection (hour/dow/risk_key), noop
  match    — + fused match (JVM predicates + one Arrow crossing)
  enrich   — + dim lookups (one projection)
  full     — + conv_id exchange, sorted replay, route meta, counts

Prints one JSON line; run manually when retuning. Each (cpus) leg is one
subprocess that times all stages min-of-``--repeats`` with a warm JVM.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_LEG = """
import json, os, sys, time
sys.path.insert(0, {repo!r})
from sagan_spark.session import get_spark
from sagan_spark.engine import match, enrich, pipeline
from sagan_spark.datagen import dims as dimsmod
from sagan_spark.rules.bulk import bulk_ruleset

cpus = {cpus}
tx = {tx!r}
extra = json.loads({extra!r})
spark = get_spark(master=f"local[{{cpus}}]", shuffle_partitions=2 * cpus, extra_conf=extra)
spark.sparkContext.setLogLevel("ERROR")
spark.range(1_000_000).selectExpr("sum(id)").collect()
rs = bulk_ruleset(production=True)

def noop(df):
    df.write.format("noop").mode("overwrite").save()

def stage_scan():
    noop(match._prepare(spark.read.parquet(tx)))

def stage_match():
    noop(match.run_match(spark.read.parquet(tx), rs))

def stage_enrich():
    m = match.run_match(spark.read.parquet(tx), rs)
    noop(enrich.attach_dims(m, dimsmod.role_dim(spark), dimsmod.tool_dim(spark), dimsmod.risk_ranges(spark)))

def stage_full():
    pipeline.run(spark, tx, ruleset=rs)

stages = {stages!r}
out = {{}}
for name, fn in [("scan", stage_scan), ("match", stage_match), ("enrich", stage_enrich), ("full", stage_full)]:
    if stages and name not in stages:
        continue
    walls = []
    for _ in range({repeats}):
        t0 = time.time(); fn(); walls.append(round(time.time() - t0, 3))
    out[name] = walls
print("LEGRESULT " + json.dumps(out))
spark.stop()
"""


def run_leg(cpus: int, tx: str, repeats: int, extra_conf: dict, stages: list[str] | None = None) -> dict:
    code = _LEG.format(
        repo=REPO, cpus=cpus, tx=tx, repeats=repeats,
        extra=json.dumps(extra_conf), stages=stages or [],
    )
    p = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True, timeout=3600)
    for line in p.stdout.splitlines():
        if line.startswith("LEGRESULT "):
            return json.loads(line[len("LEGRESULT "):])
    raise RuntimeError(p.stdout[-2000:] + p.stderr[-2000:])


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--n", type=int, default=8)
    ap.add_argument("--n4", type=int, default=32)
    ap.add_argument("--convs", type=int, default=60000)
    ap.add_argument("--conf", type=json.loads, default={},
                    help='extra spark conf as JSON, e.g. {"spark.sql.execution.arrow.maxRecordsPerBatch":"40000"}')
    ap.add_argument("--stages", default=None, help="comma list, e.g. match,full")
    ap.add_argument("--chunk-convs", type=int, default=500)
    args = ap.parse_args()
    stages = args.stages.split(",") if args.stages else None

    sys.path.insert(0, REPO)
    os.environ.setdefault("SAGAN_BENCH_PLANT_SCALE", "0.02")
    from sagan_spark.datagen.transcripts import write_transcripts

    tx = f"/tmp/sagan_bench_tx_v2_{args.convs}_42_c{args.chunk_convs}_ps0.02"
    if not os.path.exists(os.path.join(tx, "_DONE")):
        write_transcripts(tx, n_convs=args.convs, seed=42,
                          chunk_convs=args.chunk_convs, plant_scale=0.02)
        open(os.path.join(tx, "_DONE"), "w").write("ok")
    lo = run_leg(args.n, tx, args.repeats, args.conf, stages)
    hi = run_leg(args.n4, tx, args.repeats, args.conf, stages)
    factor = args.n4 / args.n
    report = {}
    for stage in lo:
        a, b = min(lo[stage]), min(hi[stage])
        report[stage] = {
            "n_runs": lo[stage],
            "n4_runs": hi[stage],
            "speedup": round(a / b, 2),
            "efficiency": round((a / b) / factor, 3),
        }
    print(json.dumps({"convs": args.convs, "conf": args.conf, "stages": report}))


if __name__ == "__main__":
    main()
