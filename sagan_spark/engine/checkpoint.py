"""Resumable batch runs: bookmark manifest + per-unit lineage & metrics.

Sagan resumes by replaying the FIFO from wherever it left off; our batch
analogue (SURVEY §4.2 "resume / lineage", BASELINE.json:6 "resumes from
Iceberg-snapshot checkpoints with per-partition lineage and rule-hit
metrics") processes the input as *units* — groups of data files — and
records, per unit: input rows, per-sink alert counts, per-rule hit counts,
wall time. The manifest is written atomically (tmp + rename) after every
unit, so a crashed run resumes by skipping completed units. A unit's
alerts are written as pipeline.run writes them, in the one job that fills
its counts (route.write_sink_rows, partitioned form: rows partitioned by
conv_id, each file sorted by (conv_id, turn_idx, sid)), to
``sinks/<sink>/unit=<uid>/``; a unit that crashed mid-write is rerun
whole and replaces its directories.

Unit boundaries and correctness: stateful correlation is per-conv_id, so a
unit must contain whole conversations. With the Iceberg layout
``bucket(N, conv_id)`` a unit = one conv bucket and this holds by
construction at any scale; the parquet emulation relies on the generator's
conv-per-file locality (datagen writes each conversation entirely inside
one chunk file). ``check_conv_locality`` verifies it when asked.

A rule set with depends_on rules is refused before any unit runs: whether
a dependent rule is enabled depends on its parent firing anywhere in the
input, which one unit cannot see. pipeline.run takes such a set.

On a real Iceberg deployment the bookmark also records the snapshot id the
run read from, pinning reruns to a consistent table state.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..io import read_table
from ..rules.canonical import CANONICAL
from ..rules.model import RuleSet
from . import pipeline as pl
from . import route

MANIFEST = "_manifest.json"

# All manifest/unit IO goes through the Hadoop FileSystem API (fsutil):
# the resume story must hold wherever the sink tree lives — file://,
# hdfs://, s3a:// — not only on a POSIX filesystem the driver can open().
# fs_write_text is atomic (temp+rename), preserving the crash-safe
# "manifest updated after each completed unit" contract.


def _atomic_write(spark: SparkSession, path: str, obj: dict) -> None:
    fsutil.fs_write_text(spark, path, json.dumps(obj, indent=1, sort_keys=True))


def _load_manifest(spark: SparkSession, out_dir: str) -> dict:
    p = out_dir.rstrip("/") + "/" + MANIFEST
    if fsutil.fs_exists(spark, p):
        return json.loads(fsutil.fs_read_text(spark, p))
    return {"run_id": uuid.uuid4().hex, "units": {}}


def list_units(
    spark: SparkSession, input_path: str, files_per_unit: int = 1
) -> list[list[str]]:
    files = fsutil.fs_list_files(spark, input_path, suffix=".parquet")
    return [files[i : i + files_per_unit] for i in range(0, len(files), files_per_unit)]


def check_conv_locality(spark: SparkSession, input_path: str) -> bool:
    """True iff no conv_id spans more than one input file (unit safety)."""
    df = spark.read.parquet(input_path).select(
        "conv_id", F.input_file_name().alias("f")
    )
    n = (
        df.groupBy("conv_id")
        .agg(F.countDistinct("f").alias("nf"))
        .where(F.col("nf") > 1)
        .count()
    )
    return n == 0


@dataclass
class ResumableResult:
    manifest: dict
    processed_units: int
    skipped_units: int

    @property
    def totals(self) -> dict:
        sink: dict[str, int] = {}
        sid: dict[str, int] = {}
        rows = 0
        for u in self.manifest["units"].values():
            if u.get("status") != "done":
                continue
            rows += u["rows_in"]
            for k, v in u["per_sink"].items():
                sink[k] = sink.get(k, 0) + v
            for k, v in u["per_sid"].items():
                sid[k] = sid.get(k, 0) + v
        return {"rows_in": rows, "per_sink": sink, "per_sid": sid}


def run_resumable(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    ruleset: RuleSet = CANONICAL,
    files_per_unit: int = 1,
    max_units: int | None = None,
) -> ResumableResult:
    """Process input units not yet marked done; write per-sink parquet under
    ``out_dir/sinks/<sink>/unit=<uid>`` and update the manifest after each
    unit. ``max_units`` bounds work this call (used to simulate failures
    in tests and to run in windowed increments operationally)."""
    dependent = next((r.sid for r in ruleset.rules if r.depends_on is not None), None)
    if dependent is not None:
        raise ValueError(
            f"sid {dependent}: depends_on rules need the whole input to decide "
            "whether their parent fired, which one unit cannot see; use pipeline.run"
        )
    fsutil.fs_mkdirs(spark, out_dir)
    manifest = _load_manifest(spark, out_dir)
    manifest.setdefault("input_path", input_path)
    # resume is only valid for the same rule set: completed units were
    # routed under the old rules, so a silent skip would mix semantics
    rs_fp = hashlib.sha256(repr(ruleset).encode()).hexdigest()[:16]
    prev = manifest.setdefault("ruleset_fp", rs_fp)
    if prev != rs_fp:
        raise ValueError(
            f"manifest at {out_dir} was written with a different rule set "
            f"({prev} != {rs_fp}); use a fresh out_dir or delete the manifest"
        )
    units = list_units(spark, input_path, files_per_unit)

    processed = skipped = 0
    for idx, files in enumerate(units):
        uid = f"u{idx:05d}"
        if manifest["units"].get(uid, {}).get("status") == "done":
            skipped += 1
            continue
        if max_units is not None and processed >= max_units:
            break
        t0 = time.time()
        df, read_input = pl.observe_input(read_table(spark, files))
        alerts = pl.build_alerts(spark, df, ruleset)
        rows, read_counts = pl.observe_alerts(route.sink_rows(alerts), ruleset, read_input)
        route.write_sink_rows(rows, f"{out_dir.rstrip('/')}/sinks", partition=f"unit={uid}")
        pl.unpersist_alerts(alerts)
        per_sink, per_sid, metrics = read_counts()
        manifest["units"][uid] = {
            "status": "done",
            "files": files,
            "rows_in": metrics["rows_in"],
            "per_sink": per_sink,
            "per_sid": {str(k): v for k, v in per_sid.items()},
            "wall_s": round(time.time() - t0, 3),
        }
        _atomic_write(spark, out_dir.rstrip("/") + "/" + MANIFEST, manifest)
        processed += 1
    return ResumableResult(manifest=manifest, processed_units=processed, skipped_units=skipped)
