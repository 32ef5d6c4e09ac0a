#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of sagan_spark at local[nproc / 2].

    python3 perfbench/run.py --workload dense_sinks --seed 42 --seconds 15 --trace 0

Run from the repository root. One process per run:

1. builds the seeded inputs and their engine-free references (cached
   under ``.perfbench_work/``, outside every timing);
2. sets up the engine cold twice — each a new driver JVM, a
   SparkSession and its warm-up, the first JVM ended before the second
   starts — and reports the median as ``setup_s`` (``--trace 1`` sets up
   once);
3. runs the workload's untimed warm-up operations;
4. ``--trace 0``: times operations until ``--seconds`` of them are
   measured and at least three were attempted, checking each output
   against the reference; prints the end-to-end metrics.
   ``--trace 1``: the traced run of ``workloads.py``; prints the
   per-layer metrics.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. Everything the run writes stays under the
repository root's ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 2          # cold set-ups per untraced run; setup_s is their median
MIN_OPS = 3         # timed operations per run, at least
DEADLINE_S = 130    # no new operation starts after this much run time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def slots() -> int:
    """Spark task slots: one per two CPUs. A task of a pandas stage keeps
    two processes busy (the JVM task thread feeding Arrow batches and its
    Python worker), and the JIT and GC threads need CPU too. With a slot
    per CPU, dense_sinks runs on a 4-CPU host took about 10% longer and
    their times spread more than twice as wide."""
    return max(1, nproc() // 2)


def start_session(work: str):
    from sagan_spark.session import default_conf, get_spark

    n = slots()
    java_opts = default_conf()["spark.driver.extraJavaOptions"]
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=2 * n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temp files and perf-counter file out of /tmp
            "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm(spark) -> None:
    """JVM codegen, one Python worker per task slot, and the shipped package."""
    from sagan_spark.packaging import ensure_shipped

    n = slots()
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (spark.range(0, 4 * n, 1, n).mapInPandas(lambda it: it, "id long")
     .write.format("noop").mode("overwrite").save())
    ensure_shipped(spark)


def shutdown(spark) -> None:
    """Stop the session, end the driver JVM and wait for every child."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def timed_ops(spark, wl, prep, seconds: float, started: float, tally) -> list[float]:
    walls = []
    measured = 0.0
    while (measured < seconds or tally.attempted < MIN_OPS) and time.time() - started < DEADLINE_S:
        t0 = time.perf_counter()
        try:
            out = wl.op(spark, prep)
            wall = time.perf_counter() - t0
            bad = wl.check(prep, out)
        except Exception:
            traceback.print_exc()
            measured += time.perf_counter() - t0
            tally.record(False)
            continue
        measured += wall
        if bad:
            print(f"[perfbench] output mismatch: {bad}", file=sys.stderr)
        tally.record(bad is None)
        walls.append(wall)
    return walls


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    from perfbench.probes import RssSampler, SparkRest
    from perfbench.stats import Tally, median, supported_percentile
    from perfbench.workloads import PER_LAYER, WORKLOADS, traced_run

    started = time.time()
    work = os.path.join(ROOT, ".perfbench_work")
    scratch = os.path.join(work, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "inputs", scratch):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    wl = WORKLOADS[workload]
    t0 = time.perf_counter()
    # a traced run traces every layer, so it needs every workload's input
    preps = {w.name: w.prepare(os.path.join(work, "inputs"), seed, nproc(), scratch)
             for w in WORKLOADS.values() if trace or w is wl}
    prep = preps[workload]
    print(f"[perfbench] {workload} seed={seed}: {prep.rows} input rows, "
          f"inputs+reference {time.perf_counter() - t0:.2f}s (not in setup_s)")

    tally = Tally()
    spark = None
    try:
        setups = []
        for _ in range(1 if trace else SETUPS):
            if spark is not None:
                shutdown(spark)
            t0 = time.perf_counter()
            spark = start_session(work)
            warm(spark)
            setups.append(time.perf_counter() - t0)
        wl.warm_up(spark, prep)
        print(f"[perfbench] set-ups {[round(x, 2) for x in setups]}, warm-up done at "
              f"{time.time() - started:.1f}s")
        if trace:
            layer = traced_run(spark, SparkRest(spark), wl, preps, tally)
        else:
            # memory is sampled over the timed loop only, so the cold
            # first run of a plan, which compiles, does not decide it
            with RssSampler() as rss:
                walls = timed_ops(spark, wl, prep, seconds, started, tally)
            print(f"[perfbench] operation walls {[round(w, 3) for w in walls]}")
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    if trace:
        print(f"[perfbench] tracing: traced full span {layer['trace.full_span_s']:.3f}s beside "
              f"untraced wall {layer['trace.untraced_wall_s']:.3f}s "
              f"(span/wall {layer['trace.span_to_wall_ratio']:.3f})")
        metrics = {name: {"value": layer[name], "unit": unit}
                   for name, (unit, _) in PER_LAYER.items()}
    else:
        wall = median(walls) if walls else float("nan")
        metrics = {
            "setup_s": {"value": median(setups), "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "rows_per_s": {"value": prep.rows / wall, "unit": "1/s"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MiB"},
        }
        samples = {"setup_s": len(setups), "wall_s": len(walls), "rows_per_s": len(walls),
                   "peak_rss_mb": 1}
        for name, m in metrics.items():
            p = supported_percentile(samples[name])
            print(f"[perfbench] {name} = {m['value']:.4f} {m['unit']} (n={samples[name]}, "
                  f"highest supported percentile: {f'p{p:g}' if p else 'median only'})")
        print(f"[perfbench] failed_ops_ratio = {tally.ratio:.4f} "
              f"({tally.failed}/{tally.attempted} operations)")
    return {"correct": tally.correct, "attempted": tally.attempted,
            "failed": tally.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("dense_sinks", "dedup_docs"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "sagan_spark", "__init__.py")):
        print("perfbench: sagan_spark/ not found beside perfbench/; run from a "
              "repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
