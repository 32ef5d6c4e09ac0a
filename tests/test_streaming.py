"""Streaming ≡ batch differential: the Structured Streaming pipeline over
incrementally-arriving files must produce exactly the batch pipeline's
alerts — including stateful rules whose state spans micro-batches."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest

from sagan_spark.datagen.transcripts import write_transcripts
from sagan_spark.engine import pipeline as batch_pipeline
from sagan_spark.streaming import pipeline as stream_pipeline


@pytest.fixture(scope="module")
def split_input(tmp_path_factory):
    """Transcript table where conversations SPAN files: regenerate the tiny
    fixture, then re-split each conversation's rows across two files by
    turn parity blocks (first half / second half) so micro-batch 1 carries
    state that micro-batch 2 must observe."""
    base = str(tmp_path_factory.mktemp("stream") / "base")
    write_transcripts(base, n_convs=60, seed=13, chunk_convs=60)
    pdf = pd.concat(
        [pd.read_parquet(f) for f in sorted(glob.glob(os.path.join(base, "*.parquet")))],
        ignore_index=True,
    ).sort_values(["conv_id", "turn_idx"])
    cut = pdf.groupby("conv_id")["turn_idx"].transform("max") // 2
    first = pdf[pdf.turn_idx <= cut]
    second = pdf[pdf.turn_idx > cut]
    sdir = str(tmp_path_factory.mktemp("stream") / "in")
    os.makedirs(sdir)
    first.to_parquet(os.path.join(sdir, "batch-000.parquet"), index=False)
    second.to_parquet(os.path.join(sdir, "batch-001.parquet"), index=False)
    return sdir


def test_stream_equals_batch(spark, split_input, tmp_path):
    out = str(tmp_path / "stream_out")
    ck = str(tmp_path / "stream_ck")
    q = stream_pipeline.run_stream(spark, split_input, out, ck, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()

    ref = batch_pipeline.run(spark, split_input)
    got_counts: dict[str, int] = {}
    got_rows = []
    for sink in ("fast", "eve", "syslog", "unified2"):
        p = os.path.join(out, sink)
        if not os.path.exists(p):
            continue
        df = spark.read.parquet(p)
        c = df.count()
        if c:
            got_counts[sink] = c
            got_rows += [
                (r.conv_id, r.turn_idx, r.sid) for r in df.select("conv_id", "turn_idx", "sid").collect()
            ]
    assert got_counts == ref.sink_counts

    want_rows = sorted(
        (r.conv_id, r.turn_idx, r.sid)
        for r in ref.alerts.select("conv_id", "turn_idx", "sid").collect()
    )
    assert sorted(got_rows) == want_rows
    ref.unpersist()


def test_stream_rocksdb_state_store_equals_default(spark, split_input, tmp_path):
    """The unified stateful operator must run unchanged on the RocksDB state
    store (the production backend for large state at 100 TB — the default
    HDFS-backed store keeps every version of every key in executor heap).
    Config-only swap; alert set must equal the batch pipeline's exactly.
    Measured at bench scale (BENCH/TUNING.md r5): throughput is WITHIN
    NOISE of the default here, because the per-batch floor is Python
    round trips + sink commits, not state-store IO — the point of this
    test is compatibility, not speed."""
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = str(tmp_path / "rocks_out")
        q = stream_pipeline.run_stream(
            spark, split_input, out, str(tmp_path / "rocks_ck"), max_files_per_trigger=1
        )
        q.processAllAvailable()
        q.stop()
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    got = set()
    for sink in ("fast", "eve", "syslog", "unified2"):
        p = os.path.join(out, sink)
        if os.path.exists(p):
            got |= {
                (r.conv_id, r.turn_idx, r.sid)
                for r in spark.read.parquet(p).select("conv_id", "turn_idx", "sid").collect()
            }
    ref = batch_pipeline.run(spark, split_input)
    want = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in ref.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    ref.unpersist()
    assert got == want and got


def test_stream_state_crosses_batches(spark, split_input, tmp_path):
    """The flexbit rule (sid 1000012) must fire for at least one pair whose
    setter ('login failed') arrived in micro-batch 1 and checker ('sudo')
    in micro-batch 2 — proving GroupState really carries across batches."""
    files = sorted(glob.glob(os.path.join(split_input, "*.parquet")))
    f1, f2 = pd.read_parquet(files[0]), pd.read_parquet(files[1])
    ref = batch_pipeline.run(spark, split_input)
    fired = {
        (r.conv_id, r.turn_idx)
        for r in ref.alerts.filter("sid = 1000012").select("conv_id", "turn_idx").collect()
    }
    ref.unpersist()
    setters1 = f1[f1.text.str.contains("login failed")].groupby("conv_id")["turn_idx"].min()
    cross = [
        (c, t)
        for (c, t) in fired
        if c in setters1.index and t in set(f2[f2.conv_id == c].turn_idx)
    ]
    assert cross, "no flexbit firing crossed the batch boundary — fixture or state bug"


def test_stream_drain_available_now(spark, split_input, tmp_path):
    """r6 backfill drain: drain=True (Trigger.AvailableNow) processes
    everything currently in the input as rate-limited micro-batches and
    terminates ON ITS OWN — no processAllAvailable/stop choreography —
    with output identical to the continuous run and max_files_per_trigger
    still honored (≥2 batch dirs from the 2-file input at mfpt=1)."""
    out = str(tmp_path / "drain_out")
    ck = str(tmp_path / "drain_ck")
    q = stream_pipeline.run_stream(
        spark, split_input, out, ck, max_files_per_trigger=1, drain=True
    )
    assert q.awaitTermination(300), "drain query did not self-terminate"

    ref = batch_pipeline.run(spark, split_input)
    got_counts: dict[str, int] = {}
    for sink in ("fast", "eve", "syslog", "unified2"):
        p = os.path.join(out, sink)
        if os.path.exists(p):
            c = spark.read.parquet(p).count()
            if c:
                got_counts[sink] = c
    assert got_counts == ref.sink_counts
    ref.unpersist()
    # rate limiting respected under AvailableNow: one batch dir per file
    fast_batches = [d for d in os.listdir(os.path.join(out, "fast")) if d.startswith("batch=")]
    assert len(fast_batches) >= 2, fast_batches
    # drain + processing-time trigger is a contradiction → refused
    with pytest.raises(ValueError, match="AvailableNow"):
        stream_pipeline.run_stream(
            spark, split_input, out, ck, drain=True, trigger_processing_time="1 minute"
        )
