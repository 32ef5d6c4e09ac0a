"""Table IO abstraction: parquet backend locally, Iceberg on a real cluster.

The reference consumes an unbounded syslog FIFO (SURVEY.md §2.1 S1,
[PUB src/input-pipe.c]); our batch input is a table scan. The sandbox has
no iceberg-spark-runtime jar and no network (SURVEY.md §7.4.4), so the
backend is chosen at runtime:

- ``iceberg`` paths/identifiers (``catalog.db.table``) are used when the
  Iceberg SQL extension is on the session (real cluster, spark-submit
  ``--packages org.apache.iceberg:iceberg-spark-runtime-...``).
- otherwise plain parquet directories, with snapshot bookkeeping emulated
  by the checkpoint manifest (engine/checkpoint.py).

At 10^12-turn scale the transcript table is laid out
``bucket(N, conv_id) + days(ts)`` (FIXTURES.md §1) so that (a) per-conv
correlation shuffles hash-align with storage buckets and (b) time-sliced
reruns prune partitions at the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _iceberg_available(spark: SparkSession) -> bool:
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "IcebergSparkSessionExtensions" in ext


def read_table(spark: SparkSession, location: str, columns: list[str] | None = None) -> DataFrame:
    """Read a table by location. ``location`` is either a slash-free table
    IDENTIFIER — Iceberg when the extension is loaded, otherwise a catalog
    table via ``spark.table`` (the form conv_id-BUCKETED tables take, so a
    config file pointing at one gets the zero-exchange replay plan, which
    pipeline.resolve_match_mode reads off the scan) — or a parquet path.
    Column pruning is passed through so Catalyst pushes ``ReadSchema`` down
    to the scan."""
    if "/" not in location:
        if _iceberg_available(spark):
            df = spark.read.format("iceberg").load(location)
        else:
            df = spark.table(location)
    else:
        df = spark.read.parquet(location)
    if columns:
        df = df.select(*columns)
    return df


def write_table(
    df: DataFrame,
    location: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    if "/" not in location and _iceberg_available(df.sparkSession):
        w = df.writeTo(location)
        if mode == "overwrite":
            w.createOrReplace()
        else:
            w.append()
        return
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(location)
