"""Sink compaction: bound the file count of long-running streaming sinks.

The exactly-once sink layout (streaming/pipeline.make_batch_writer, through
route.write_sink_rows) writes one ``batch=<id>`` parquet directory per
non-empty (sink, micro-batch), one file per ~500k rows — the idempotence
unit under micro-batch replay. Correct, but on a stream that runs for
months it is the classic small-files problem: 10^5 batches × at least
one file each makes every downstream scan pay file-open and listing
costs that dwarf the data — the standard Structured
Streaming + foreachBatch operational gap (reference parity: spool-file
IDS sinks are conventionally bounded by an external
rotate-and-archive step; here the engine owns that maintenance).

``compact_sink_batches`` merges all FINAL batch directories of a sink into
one coarse ``batch=<B>`` directory of ~``target_file_mb`` files:

- **Safety frontier.** A batch id is final once the checkpoint holds its
  commit file — on restart Spark replays only ids beyond the last commit,
  so dirs at or below it are never rewritten and compaction can run
  WHILE the stream runs. Pass ``checkpoint_dir`` and the frontier is read
  from ``commits/``; with no checkpoint given the caller asserts the
  stream is stopped (then everything present is final). ``up_to`` caps it
  further.
- **Crash safety.** The merged data is first written to a hidden
  ``.compact_tmp_*`` directory and fingerprinted with a ``_COMPACTED``
  marker; an intent manifest (``_compaction.json``, atomic write via
  fsutil) then records the whole move plan; only then do the per-path
  renames run (sources → hidden trash, tmp → target, trash+manifest
  deleted). Every step is idempotent, so ``recover_compaction`` — run
  automatically at the start of the next compaction — completes an
  interrupted run from the manifest no matter where it died. No ordering
  of steps can lose rows: data is always in (sources ∪ tmp ∪ target).
- **Reader contract unchanged.** Readers keep doing
  ``spark.read.parquet(out_dir/<sink>)``: hidden (dot/underscore) paths
  are invisible to Spark's file index, the compacted files carry no
  ``batch`` column (it stays a partition-directory column, as written),
  and later, still-uncompacted ids keep their directories. The ``batch``
  value of compacted rows collapses to the frontier id — it is the
  idempotence mechanism, not lineage; per-row lineage lives in the rows.
  During the rename window readers see a subset of rows (same as any
  in-place compaction without snapshot isolation); quiesce readers or
  accept eventual consistency. One compactor per sink at a time (same
  serialize-yourself contract as the ANN index paths).

Driver-side IO goes through fsutil (works on file:// / hdfs:// / s3a://);
the data move itself is one pruned DataFrame read + coalesce write —
no driver-side row handling, so a 10^12-turn deployment compacts with
cluster parallelism.
"""

from __future__ import annotations

import json
import math
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..rules.model import SINKS

MANIFEST_NAME = "_compaction.json"
MARKER_NAME = "_COMPACTED"


def committed_frontier(spark: SparkSession, checkpoint_dir: str) -> int | None:
    """Highest micro-batch id with a commit file — ids at or below it are
    final (never replayed on restart); None if nothing committed yet."""
    try:
        entries = fsutil.fs_listdir(spark, checkpoint_dir.rstrip("/") + "/commits")
    except FileNotFoundError:
        return None
    ids = [int(e) for e in entries if e.isdigit()]
    return max(ids) if ids else None


def _apply_manifest(spark: SparkSession, sink_dir: str, m: dict) -> None:
    """Execute (or re-execute) a compaction move plan. Idempotent: every
    step checks current state first, so a crash anywhere mid-plan is
    finished by running this again with the same manifest."""
    trash = f"{sink_dir}/{m['trash']}"
    tmp = f"{sink_dir}/{m['tmp']}"
    target = f"{sink_dir}/{m['target']}"
    fsutil.fs_mkdirs(spark, trash)
    for s in m["sources"]:
        src = f"{sink_dir}/{s}"
        if not fsutil.fs_exists(spark, src):
            continue  # already moved (or this IS the finished target)
        if s == m["target"] and fsutil.fs_exists(spark, f"{src}/{MARKER_NAME}"):
            continue  # the compacted data, not the original source dir
        fsutil.fs_rename(spark, src, f"{trash}/{s}")
    if fsutil.fs_exists(spark, tmp):
        fsutil.fs_rename(spark, tmp, target)
    if not fsutil.fs_exists(spark, f"{target}/{MARKER_NAME}"):
        raise IOError(
            f"compaction of {sink_dir} incomplete: {m['target']} missing its "
            f"{MARKER_NAME} marker after applying the manifest — staged data "
            f"not lost (see {m['trash']}), refusing to clean up"
        )
    fsutil.fs_delete(spark, trash)
    fsutil.fs_delete(spark, f"{sink_dir}/{MANIFEST_NAME}")


def recover_compaction(spark: SparkSession, out_dir: str, sink: str) -> bool:
    """Finish an interrupted compaction of ``sink`` if its intent manifest
    is present; returns True if one was applied. Also sweeps orphaned
    hidden scratch dirs from runs that died BEFORE writing the manifest
    (harmless to readers, but they hold disk)."""
    sink_dir = f"{out_dir.rstrip('/')}/{sink}"
    manifest_path = f"{sink_dir}/{MANIFEST_NAME}"
    applied = False
    if fsutil.fs_exists(spark, manifest_path):
        _apply_manifest(spark, sink_dir, json.loads(fsutil.fs_read_text(spark, manifest_path)))
        applied = True
    try:
        entries = fsutil.fs_listdir(spark, sink_dir)
    except FileNotFoundError:
        return applied
    for e in entries:
        if e.startswith((".compact_tmp_", ".compact_trash_")):
            fsutil.fs_delete(spark, f"{sink_dir}/{e}")
    return applied


def compact_sink_batches(
    spark: SparkSession,
    out_dir: str,
    sink: str,
    *,
    checkpoint_dir: str | None = None,
    up_to: int | None = None,
    target_file_mb: int = 256,
) -> dict:
    """Merge the final ``batch=<id>`` directories of one sink into a single
    coarse ``batch=<frontier>`` directory (module docstring for the full
    contract). Returns a stats dict; a no-op (absent sink, <2 eligible
    dirs) returns ``{"compacted": 0, ...}`` without touching anything."""
    sink_dir = f"{out_dir.rstrip('/')}/{sink}"
    recover_compaction(spark, out_dir, sink)

    cap = up_to
    if checkpoint_dir is not None:
        frontier = committed_frontier(spark, checkpoint_dir)
        if frontier is None:
            return {"sink": sink, "compacted": 0, "reason": "no committed batches"}
        cap = frontier if cap is None else min(cap, frontier)

    try:
        entries = fsutil.fs_listdir(spark, sink_dir)
    except FileNotFoundError:
        return {"sink": sink, "compacted": 0, "reason": "sink absent"}
    ids = sorted(
        int(e.split("=", 1)[1])
        for e in entries
        if e.startswith("batch=") and e.split("=", 1)[1].lstrip("-").isdigit()
    )
    eligible = [i for i in ids if cap is None or i <= cap]
    if len(eligible) < 2:
        return {"sink": sink, "compacted": 0, "reason": "fewer than 2 eligible dirs"}

    target_id = eligible[-1]
    files_before = sum(
        len(fsutil.fs_list_files(spark, f"{sink_dir}/batch={i}", suffix=".parquet"))
        for i in eligible
    )
    total_bytes = sum(fsutil.fs_size(spark, f"{sink_dir}/batch={i}") for i in eligible)
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))

    run = uuid.uuid4().hex[:12]
    tmp = f".compact_tmp_{run}"
    # pruned read of exactly the eligible partitions; coalesce (narrow, no
    # shuffle) to the byte-budgeted file count; restore the per-file sort
    # the batch writer gave each directory
    (
        spark.read.parquet(sink_dir)
        .filter(F.col("batch").isin(eligible))
        .drop("batch")
        .coalesce(n_files)
        .sortWithinPartitions("conv_id", "turn_idx", "sid")
        .write.mode("overwrite")
        .parquet(f"{sink_dir}/{tmp}")
    )
    fsutil.fs_write_text(
        spark,
        f"{sink_dir}/{tmp}/{MARKER_NAME}",
        json.dumps({"sources": eligible, "bytes": total_bytes}),
    )
    manifest = {
        "tmp": tmp,
        "trash": f".compact_trash_{run}",
        "target": f"batch={target_id}",
        "sources": [f"batch={i}" for i in eligible],
    }
    fsutil.fs_write_text(spark, f"{sink_dir}/{MANIFEST_NAME}", json.dumps(manifest))
    _apply_manifest(spark, sink_dir, manifest)
    return {
        "sink": sink,
        "compacted": len(eligible),
        "target_batch": target_id,
        "files_before": files_before,
        "files_after": len(
            fsutil.fs_list_files(spark, f"{sink_dir}/batch={target_id}", suffix=".parquet")
        ),
        "bytes": total_bytes,
    }


def compact_all_sinks(
    spark: SparkSession,
    out_dir: str,
    sinks: tuple[str, ...] = SINKS,
    **kwargs,
) -> list[dict]:
    """Compact every sink of a stream's output tree; kwargs as
    ``compact_sink_batches``. Absent sinks are no-ops."""
    return [compact_sink_batches(spark, out_dir, s, **kwargs) for s in sinks]
