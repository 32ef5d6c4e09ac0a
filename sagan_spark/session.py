"""SparkSession construction with the engine's recommended conf.

Scale notes (10^12-turn design target):
- AQE on (runtime re-plan, skew-join splitting for hot conv_ids).
- Arrow enabled with a bounded batch size so the vectorized match UDF
  (engine/match.py) streams bounded record batches through Python workers.
- shuffle.partitions is a local-mode default; on a real cluster this is
  set via spark-submit conf proportional to executor count
  (AQE coalescing shrinks it back when partitions are small).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def default_conf() -> dict[str, str]:
    """Engine conf, built PER CALL so the SPARK_GRAFT_* env knobs are
    read at session-creation time, not frozen at module import."""
    return {
        # local mode runs everything in the driver JVM. Empirically (see
        # BENCH/BASELINE.md notes) a SMALL heap is faster for this string-heavy
        # workload: persisted blocks spill to compressed lz4 disk blocks instead
        # of occupying DRAM, and G1 young collections stay short. Measured at
        # local[32], 6.4M turns, wide rule set: 2g→39s, 6g→56s, 48g→177s.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        # Throughput GC: G1's concurrent threads contend with 32 busy worker
        # threads on this box — ParallelGC measured 33% faster on the match
        # stage at local[32] (9.85s vs 14.6s, 6.8M turns) AND lifts 8→32
        # scaling efficiency from 0.55 to 0.69 (≈ the pure-compute ceiling).
        # On a real cluster executors get this via spark.executor.extraJavaOptions.
        "spark.driver.extraJavaOptions": os.environ.get(
            "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"
        ),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Arrow batch size for the mapInPandas crossings — WORKLOAD-DEPENDENT
        # (swept both ways, see BENCH/TUNING.md): on the wide production
        # profile (~1% of rows cross to Python) 131072 wins ~10% (fewer
        # worker round trips); on the dense profile (~57% of rows cross)
        # 131072 LOSES 2x (10.6s vs 4.9s — pandas working sets blow the
        # cache). 32768 is the safe default; raise via env only for
        # low-selectivity rule sets.
        "spark.sql.execution.arrow.maxRecordsPerBatch": os.environ.get(
            "SPARK_GRAFT_ARROW_BATCH", "32768"
        ),
        "spark.sql.session.timeZone": "UTC",
        # Bucketed transcript tables (the 10^12-turn bucket(N, conv_id)
        # layout) must be READ bucketed whenever their partitioning can
        # elide the replay's conv_id exchange. With autoBucketedScan ON
        # (Spark default) we observed the planner fall back to plain file
        # splits ("Bucketed: false (disabled by query planner)") while
        # STILL eliding repartition(conv_id) — splitting conversations
        # across replay partitions and silently corrupting stateful
        # correlation (caught by tests/test_bucketed_layout.py; the replay
        # now also guards non-contiguous input). Forcing bucketed reads is
        # the safe default for this engine; scan cost is unchanged.
        "spark.sql.sources.bucketing.autoBucketedScan.enabled": "false",
        # parquet scans: keep split sizes sane for local runs; on a cluster the
        # default 128m is right for 100TB scans.
        "spark.sql.files.maxPartitionBytes": "134217728",
    }


def get_spark(
    app_name: str = "sagan_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness can run the identical job at two parallelism
    levels (local[8] vs local[32]) for the scaling-efficiency evidence.
    Defaults apply only when this call creates the session: ``getOrCreate``
    pushes every SQL conf it gets into a live one (e.g. the caller's, in
    scripts/run_pipeline.main), which takes only explicit settings.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {}
    if SparkSession.getActiveSession() is None:
        conf = default_conf()
        conf["spark.sql.shuffle.partitions"] = "32"
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
