#!/usr/bin/env python
"""Cluster entrypoint — the spark-submit job for the Sagan-style pipeline.

    python -m sagan_spark.packaging                     # builds sagan_spark.zip
    spark-submit --py-files sagan_spark.zip \
        --conf spark.sql.shuffle.partitions=4096 \
        scripts/run_pipeline.py \
        --input  warehouse.logs.transcripts \
        --output s3://bucket/alerts \
        --resume-dir s3://bucket/alerts/_bookmarks \
        --mode resumable

or, config-driven (the sagan.yaml analogue — see sagan_spark/config.py for
the format; explicit CLI flags override config values):

    spark-submit ... scripts/run_pipeline.py --config sagan_spark.yaml

Modes:
  batch      one-shot run, per-sink writes + counts to stdout (JSON);
             honours Rule.depends_on (pipeline.run)
  resumable  unit-based run with the bookmark manifest (skips done units);
             refuses depends_on rules
  stream     structured streaming with checkpointing

The input is an Iceberg table identifier when the Iceberg extension is on
the session (cluster), else a parquet path (local/dev) — io.read_table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

try:
    import sagan_spark  # noqa: F401  (present via --py-files on a cluster)
except ModuleNotFoundError:  # standalone/dev: the package sits next to scripts/
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sagan_spark.config import PipelineConfig, load_config, load_ruleset
from sagan_spark.engine import checkpoint, pipeline
from sagan_spark.rules.bulk import bulk_ruleset
from sagan_spark.session import get_spark


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--config", default=None, help="sagan_spark.yaml (CLI flags override)")
    ap.add_argument("--input", default=None)
    ap.add_argument("--output", default=None)
    ap.add_argument("--mode", choices=["batch", "resumable", "stream"], default=None)
    ap.add_argument(
        "--ruleset",
        choices=["canonical", "bulk", "bulk-production"],
        default=None,
        help="built-in rule-set name; config `rules:` file paths take effect when unset",
    )
    ap.add_argument("--resume-dir", default=None)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    cfg = load_config(args.config) if args.config else PipelineConfig()
    # precedence: explicit CLI flag > config value > PipelineConfig default
    inp = args.input or cfg.input
    if not inp:
        ap.error("--input required (flag or config `input:`)")
    output = args.output or cfg.output
    mode = args.mode or cfg.mode
    resume_dir = args.resume_dir or cfg.resume_dir
    checkpoint_dir = args.checkpoint_dir or cfg.checkpoint_dir
    # fail at argparse time, not as a TypeError deep inside Spark
    if mode == "resumable" and not (resume_dir or output):
        ap.error("resumable mode needs --resume-dir or --output (flag or config)")
    if mode == "stream":
        if not output:
            ap.error("stream mode needs --output (flag or config `output:`)")
        if not checkpoint_dir:
            ap.error("stream mode needs --checkpoint-dir (flag or config `checkpoint_dir:`)")

    if args.ruleset is not None:
        ruleset = {
            "canonical": load_ruleset(PipelineConfig()),
            "bulk": bulk_ruleset(),
            "bulk-production": bulk_ruleset(production=True),
        }[args.ruleset]
    else:
        ruleset = load_ruleset(cfg)
    if cfg.replay_chunk_rows is not None:
        # the replay reads this at plan-build time (engine/correlate.py)
        os.environ["SAGAN_REPLAY_CHUNK_ROWS"] = str(cfg.replay_chunk_rows)
    spark = get_spark(
        app_name="sagan_pipeline",
        master=args.master or cfg.master,
        **({"shuffle_partitions": cfg.shuffle_partitions} if cfg.shuffle_partitions else {}),
    )

    if mode == "batch":
        res = pipeline.run(spark, inp, ruleset, out_dir=output)
        print(json.dumps({"sink_counts": res.sink_counts, "sid_counts": res.sid_counts}))
        res.unpersist()
    elif mode == "resumable":
        out = resume_dir or (output + "/_bookmarks")
        r = checkpoint.run_resumable(spark, inp, out, ruleset)
        print(json.dumps({"processed": r.processed_units, "skipped": r.skipped_units, **r.totals}))
    else:  # stream
        from sagan_spark.streaming import pipeline as sp

        q = sp.run_stream(
            spark, inp, output, checkpoint_dir, ruleset,
            max_files_per_trigger=cfg.max_files_per_trigger,
            state_ttl_minutes=cfg.state_ttl_minutes,
            track_hwm_cap=cfg.track_hwm_cap,
            drain=cfg.stream_drain,
        )
        q.awaitTermination()


if __name__ == "__main__":
    main()
