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
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

# The transcript contract: batch reads of a parquet path and the stream's
# file source both read these columns with these types, so neither infers
# a schema with a Spark job.
TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampNTZType()),
    ]
)
TRANSCRIPT_COLUMNS = TRANSCRIPT_SCHEMA.fieldNames()


# The key columns a run cannot do without: (column, failing condition,
# what the error calls it). NULL is how the known-schema read gives a
# column missing from the file; negative how it gives an unsigned 32-bit
# turn_idx past 2^31.
_CHECKS = [
    ("conv_id", "`conv_id` IS NULL", "NULL"),
    ("turn_idx", "`turn_idx` IS NULL OR `turn_idx` < 0", "NULL or negative"),
    ("ts", "`ts` IS NULL", "NULL"),
]


def _iceberg_available(spark: SparkSession) -> bool:
    ext = spark.conf.get("spark.sql.extensions", "") or ""
    return "IcebergSparkSessionExtensions" in ext


def read_table(
    spark: SparkSession, location: str | list[str], columns: list[str] | None = None
) -> DataFrame:
    """Read a table by location. ``location`` is either a slash-free table
    IDENTIFIER — Iceberg when the extension is loaded, otherwise a catalog
    table via ``spark.table`` (the form conv_id-BUCKETED tables take, so a
    config file pointing at one gets the zero-exchange replay plan, which
    pipeline.resolve_match_mode reads off the scan) — or a parquet path or
    list of parquet files (a resumable unit's). Column pruning is passed
    through so Catalyst pushes ``ReadSchema`` down to the scan.

    Parquet is read with TRANSCRIPT_SCHEMA, pruned to ``columns`` (all
    of them when None), so Spark runs no schema-inference job. A file
    column whose type Spark cannot read as that type fails the scan with
    an error naming the column. A UTC-adjusted ``ts`` reads as its UTC
    wall clock, as the inferred read gives it under the engine's UTC
    session. Under a known schema a column missing from a file (or
    misspelled in it) would read as NULL, and an unsigned 32-bit
    ``turn_idx`` past 2^31 would read wrapped to a negative INT; so a NULL
    ``conv_id``, ``turn_idx`` or ``ts``, or a negative ``turn_idx``, fails
    the scan with an error naming the column (a filter fused into the
    scan's stage: no extra job)."""
    if isinstance(location, str) and "/" not in location:
        if _iceberg_available(spark):
            df = spark.read.format("iceberg").load(location)
        else:
            df = spark.table(location)
        return df.select(*columns) if columns else df
    names = columns or TRANSCRIPT_COLUMNS
    paths = [location] if isinstance(location, str) else location
    df = spark.read.schema(StructType([TRANSCRIPT_SCHEMA[c] for c in names])).parquet(*paths)
    checks = [
        f"WHEN {cond} THEN raise_error('transcript column [{c}] is {what}:"
        " missing from the file, misspelled there, or not a valid value')"
        for c, cond, what in _CHECKS
        if c in names
    ]
    return df.filter(f"CASE {' '.join(checks)} ELSE true END") if checks else df


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
