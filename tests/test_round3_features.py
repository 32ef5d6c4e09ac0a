"""Round-3 features: role-track streaming redelivery guard + TTL eviction
(the robustness policies the conv-keyed branch already had)."""

from __future__ import annotations

import os
import time

import pandas as pd

from sagan_spark.rules.model import AfterSpec, ContentSpec, Rule, RuleSet
from sagan_spark.streaming import pipeline as stream_pipeline

_TS0 = pd.Timestamp("2025-03-01 10:00:00")
RETRY_TXT = "transient failure, scheduling a retry with backoff"


def _write(rows, path):
    """rows: (conv_id, turn_idx, text, offset_s, role) — exact transcript
    parquet schema (timestamp[us], int32 turn_idx)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sagan_spark.datagen.transcripts import SCHEMA

    pdf = pd.DataFrame(
        {
            "conv_id": [r[0] for r in rows],
            "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
            "role": [r[4] for r in rows],
            "text": [r[2] for r in rows],
            "tool": ["none"] * len(rows),
            "ts": pd.Series(
                [_TS0 + pd.Timedelta(seconds=r[3]) for r in rows]
            ).astype("datetime64[us]"),
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), path)


def _fired(spark, out_dir, sid) -> set:
    p = os.path.join(out_dir, "fast")
    if not os.path.exists(p):
        return set()
    try:
        return {
            (r.conv_id, r.turn_idx)
            for r in spark.read.parquet(p).filter(f"sid = {sid}").collect()
        }
    except Exception:
        return set()


def _role_ruleset(count: int) -> RuleSet:
    return RuleSet(
        (
            Rule(
                sid=4000002,
                msg="role-wide retry window",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="role", count=count, seconds=900),
            ),
        )
    )


def _diff(spark, tiny_path, tiny_pdf, ruleset):
    """Engine ≡ oracle on the tiny fixture (same contract as round 2)."""
    from sagan_spark.engine import pipeline
    from sagan_spark.oracle.pandas_engine import run_oracle

    res = pipeline.run(spark, tiny_path, ruleset)
    ora = run_oracle(tiny_pdf, ruleset)
    assert res.sid_counts == ora.sid_counts
    got = {
        (r.conv_id, r.turn_idx, r.sid)
        for r in res.alerts.select("conv_id", "turn_idx", "sid").collect()
    }
    want = {(a["conv_id"], a["turn_idx"], a["sid"]) for a in ora.alerts}
    assert got == want
    res.unpersist()
    return ora


def test_parser_by_dst_maps_to_tool():
    """`track by_dst` → the tool column (the destination analogue in this
    payload transposition: which tool the turn targeted)."""
    from sagan_spark.rules.parser import parse_rule

    r = parse_rule(
        'alert any any -> any any (msg:"dst storm"; sid:4100001; '
        'content:"retry"; after:track by_dst, count 3, seconds 600; sink:fast;)'
    )
    assert r.after.track == "tool"
    assert r.track == "tool"


def test_after_track_tool_differential(spark, tiny_path, tiny_pdf):
    """by_dst (tool-keyed) after counters: GLOBAL per (tool, sid) in
    event-time order — engine ≡ oracle, and the emission set must differ
    from both the conv-keyed and role-keyed variants of the same rule
    (proving the key actually changes the semantics)."""
    from sagan_spark.rules.parser import parse_rule

    def rs(track_kw):
        return RuleSet(
            (
                parse_rule(
                    f'alert any any -> any any (msg:"retry storm"; sid:4100002; '
                    f'content:"retry"; after:track {track_kw}, count 3, seconds 600; '
                    "sink:fast;)"
                ),
            )
        )

    ora_tool = _diff(spark, tiny_path, tiny_pdf, rs("by_dst"))
    n_tool = ora_tool.sid_counts.get(4100002, 0)
    assert n_tool > 0, "tool-tracked rule never fires"
    ora_role = run_oracle_counts(tiny_pdf, rs("by_username"))
    ora_conv = run_oracle_counts(tiny_pdf, rs("by_src"))
    assert n_tool != ora_role and n_tool != ora_conv, (
        "tool track indistinguishable from a sibling track key — fixture "
        f"can't discriminate (tool={n_tool}, role={ora_role}, conv={ora_conv})"
    )


def run_oracle_counts(pdf, ruleset) -> int:
    from sagan_spark.oracle.pandas_engine import run_oracle

    return sum(run_oracle(pdf, ruleset).sid_counts.values())


def test_after_track_by_both_differential(spark, tiny_path, tiny_pdf):
    """by_both → the (conv_id, tool) composite key: counters per
    (conversation, tool) pair. Engine ≡ oracle, and the emission count
    differs from BOTH by_src (pure conv) and by_dst (global tool) at the
    same parameters — the composite is its own semantics, not an alias."""
    from sagan_spark.rules.parser import parse_rule

    def rs(track_kw):
        return RuleSet(
            (
                parse_rule(
                    f'alert any any -> any any (msg:"retry pair"; sid:4100006; '
                    f'content:"retry"; after:track {track_kw}, count 1, seconds 3600; '
                    "sink:fast;)"
                ),
            )
        )

    assert rs("by_both").rules[0].track == "conv_tool"
    ora_both = _diff(spark, tiny_path, tiny_pdf, rs("by_both"))
    n_both = ora_both.sid_counts.get(4100006, 0)
    assert n_both > 0, "by_both rule never fires"
    n_conv = run_oracle_counts(tiny_pdf, rs("by_src"))
    n_tool = run_oracle_counts(tiny_pdf, rs("by_dst"))
    assert n_both != n_conv and n_both != n_tool, (
        f"by_both indistinguishable (both={n_both}, conv={n_conv}, tool={n_tool})"
    )


def test_streaming_by_both_equals_batch(spark, tmp_path):
    """conv_tool streaming counters carry across micro-batches and equal
    the batch engine: the 2nd bash turn of convA emits, its python turn
    does not (fresh (conv, tool) pair), and convB's bash does not (fresh
    conversation — unlike a global tool track)."""
    from sagan_spark.engine import pipeline as batch_pipeline
    from sagan_spark.rules.parser import parse_rule

    rs = RuleSet(
        (
            parse_rule(
                'alert any any -> any any (msg:"pair retry"; sid:4100007; '
                'content:"retry"; after:track by_both, count 1, seconds 900; '
                "sink:fast;)"
            ),
        )
    )
    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    def _write_tools(rows, path):  # (conv, turn, offset_s, tool)
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sagan_spark.datagen.transcripts import SCHEMA

        pdf = pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [RETRY_TXT] * len(rows),
                "tool": [r[3] for r in rows],
                "ts": pd.Series(
                    [_TS0 + pd.Timedelta(seconds=r[2]) for r in rows]
                ).astype("datetime64[us]"),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), path)

    q = stream_pipeline.run_stream(spark, in_dir, out, ck, ruleset=rs, max_files_per_trigger=1)
    try:
        _write_tools(
            [("convA", 0, 0, "bash")], os.path.join(in_dir, "f1.parquet")
        )
        q.processAllAvailable()
        # the (convA, bash) counter must survive the batch boundary
        _write_tools(
            [("convA", 1, 10, "bash"), ("convA", 2, 20, "python"), ("convB", 0, 30, "bash")],
            os.path.join(in_dir, "f2.parquet"),
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(_fired(spark, out, 4100007))
    ref = batch_pipeline.run(spark, in_dir, rs)
    want = sorted(
        (r.conv_id, r.turn_idx)
        for r in ref.alerts.select("conv_id", "turn_idx").collect()
    )
    ref.unpersist()
    assert got == want == [("convA", 1)], (got, want)


def test_threshold_track_tool_differential(spark, tiny_path, tiny_pdf):
    from sagan_spark.rules.model import ThresholdSpec

    rs = RuleSet(
        (
            Rule(
                sid=4100003,
                msg="per-tool retry limit",
                sink="eve",
                contents=(ContentSpec("retry",),),
                threshold=ThresholdSpec(type="limit", track="tool", count=2, seconds=900),
            ),
        )
    )
    ora = _diff(spark, tiny_path, tiny_pdf, rs)
    n = ora.sid_counts.get(4100003, 0)
    assert n > 0
    raw = sum("retry" in (t or "") for t in tiny_pdf["text"])
    assert n < raw, "tool-tracked limit never suppressed anything"


def test_ruleset_rejects_tool_track_with_flexbits():
    import pytest

    from sagan_spark.rules.model import AfterSpec as AS
    from sagan_spark.rules.model import FlexbitSpec

    with pytest.raises(ValueError, match="tool-tracked"):
        RuleSet(
            (
                Rule(
                    sid=4100004,
                    msg="bad combo",
                    sink="fast",
                    contents=(ContentSpec("x",),),
                    after=AS(track="tool", count=1, seconds=60),
                    flexbits=(FlexbitSpec("set", "b"),),
                ),
            )
        )


def test_streaming_tool_track_ordered_equals_batch(spark, tmp_path):
    """tool-keyed (by_dst) streaming counters ≡ batch for an event-time-
    ordered source — the same contract the role branch honors."""
    from sagan_spark.engine import pipeline as batch_pipeline

    rs = RuleSet(
        (
            Rule(
                sid=4100005,
                msg="tool-wide retry window",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="tool", count=2, seconds=900),
            ),
        )
    )
    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)

    def _write_tools(rows, path):  # (conv, turn, offset_s, tool)
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sagan_spark.datagen.transcripts import SCHEMA

        pdf = pd.DataFrame(
            {
                "conv_id": [r[0] for r in rows],
                "turn_idx": pd.array([r[1] for r in rows], dtype="int32"),
                "role": ["user"] * len(rows),
                "text": [RETRY_TXT] * len(rows),
                "tool": [r[3] for r in rows],
                "ts": pd.Series(
                    [_TS0 + pd.Timedelta(seconds=r[2]) for r in rows]
                ).astype("datetime64[us]"),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=SCHEMA, preserve_index=False), path)

    q = stream_pipeline.run_stream(spark, in_dir, out, ck, ruleset=rs, max_files_per_trigger=1)
    try:
        # bash reaches count 3 (emits) only if counting is tool-keyed:
        # conv-keyed would reset per conversation, role-keyed would mix in
        # the python rows
        _write_tools(
            [("convA", 0, 0, "bash"), ("convA", 1, 10, "python")],
            os.path.join(in_dir, "f1.parquet"),
        )
        q.processAllAvailable()
        _write_tools(
            [("convB", 0, 20, "bash"), ("convB", 1, 30, "bash")],
            os.path.join(in_dir, "f2.parquet"),
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(_fired(spark, out, 4100005))
    ref = batch_pipeline.run(spark, in_dir, rs)
    want = sorted(
        (r.conv_id, r.turn_idx)
        for r in ref.alerts.select("conv_id", "turn_idx").collect()
    )
    ref.unpersist()
    assert got == want == [("convB", 1)], (got, want)


def test_by_both_with_flexbits_allowed():
    """conv_tool rules run on the conversation-keyed replay, which fully
    supports flexbits — the combination must construct (only the GLOBAL
    role/tool tracks reject bits)."""
    from sagan_spark.rules.model import FlexbitSpec

    RuleSet(
        (
            Rule(
                sid=4100008,
                msg="pair counter + bit",
                sink="fast",
                contents=(ContentSpec("retry",),),
                after=AfterSpec(track="conv_tool", count=1, seconds=600),
                flexbits=(FlexbitSpec("set", "pair_bit", expire=900),),
            ),
        )
    )


def test_batch_writer_skips_empty_and_refuses_legacy(spark, tmp_path):
    """A batch with zero rows for a sink writes nothing (a quiet stream
    must not grow one directory per trigger), and a sink dir holding the
    old flat-append part-* files is refused with a migration message."""
    from sagan_spark.streaming.pipeline import make_batch_writer

    out = str(tmp_path / "out")
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, sid long, sink string"
    )
    empty = spark.createDataFrame([], schema)
    w = make_batch_writer(out, ("fast", "eve"))
    w(empty, 0)
    assert not os.path.exists(os.path.join(out, "fast"))
    # legacy flat layout → loud refusal
    legacy = str(tmp_path / "legacy")
    rows = [("convA", 0, "user", "t", "none", _TS0.to_pydatetime(), 1, "fast")]
    df = spark.createDataFrame(rows, schema)
    os.makedirs(os.path.join(legacy, "fast"))
    open(os.path.join(legacy, "fast", "part-00000.parquet"), "wb").write(b"x")
    import pytest

    with pytest.raises(RuntimeError, match="flat part-"):
        make_batch_writer(legacy, ("fast",))(df, 0)


def test_batch_writer_replay_is_idempotent(spark, tmp_path):
    """foreachBatch re-executes a micro-batch when a failure lands between
    the sink write and the checkpoint commit; the writer must therefore be
    idempotent per batch id. Simulate the replay by invoking the writer
    twice with the same batch id — row count must not double — then with a
    new batch id — rows must accumulate."""
    from sagan_spark.streaming.pipeline import make_batch_writer

    out = str(tmp_path / "out")
    rows = [("convA", 0, "user", "t", "none", _TS0.to_pydatetime(), 1, "fast")]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, sid long, sink string",
    )
    w = make_batch_writer(out, ("fast",))
    w(df, 0)
    w(df, 0)  # replay of the same micro-batch
    assert spark.read.parquet(os.path.join(out, "fast")).count() == 1
    w(df, 1)  # a genuinely new micro-batch
    assert spark.read.parquet(os.path.join(out, "fast")).count() == 2


def test_role_track_redelivery_dropped(spark, tmp_path):
    """A redelivered alert row must NOT increment the global (role, sid)
    counter a second time. f1 delivers convA turns 0,1 (count reaches 2,
    below the after threshold); f2 redelivers convA turn 1 and adds convB
    turns 0,1. Without the high-water-mark guard the redelivery makes the
    counter hit 3 at (convA,1) — an emission the batch engine never
    produces; with it, only convB's rows emit (counts 3 and 4)."""
    rs = _role_ruleset(count=2)
    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    q = stream_pipeline.run_stream(spark, in_dir, out, ck, ruleset=rs, max_files_per_trigger=1)
    try:
        _write(
            [("convA", 0, RETRY_TXT, 0, "user"), ("convA", 1, RETRY_TXT, 10, "user")],
            os.path.join(in_dir, "f1.parquet"),
        )
        q.processAllAvailable()
        _write(
            [
                ("convA", 1, RETRY_TXT, 10, "user"),  # redelivery
                ("convB", 0, RETRY_TXT, 100, "user"),
                ("convB", 1, RETRY_TXT, 110, "user"),
            ],
            os.path.join(in_dir, "f2.parquet"),
        )
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(_fired(spark, out, 4000002)) == [("convB", 0), ("convB", 1)]


def test_role_track_ttl_evicts_idle_key(spark, tmp_path):
    """TTL on the role-keyed operator: the 'user' track key idles past the
    TTL and is evicted (counters restart), so convA's second retry does not
    emit; the 'tool' track key stays active across the same batches and its
    second retry DOES emit — proving the decisive batch ran and eviction
    was key-selective. Timer eviction needs a processingTime trigger plus
    a data batch for an unrelated key (see run_stream TTL note)."""
    rs = _role_ruleset(count=1)  # emits on the 2nd event in a window
    in_dir, out, ck = (str(tmp_path / d) for d in ("in", "out", "ck"))
    os.makedirs(in_dir)
    q = stream_pipeline.run_stream(
        spark,
        in_dir,
        out,
        ck,
        ruleset=rs,
        max_files_per_trigger=1,
        state_ttl_minutes=0.0008,  # ~48ms
        trigger_processing_time="1 second",
    )
    # generous: under full-suite contention micro-batches can take tens of
    # seconds each; the assertions are state-based, not latency-based
    deadline = time.time() + 240

    def _await_commit(batch_id: int) -> None:
        p = os.path.join(ck, "commits", str(batch_id))
        while time.time() < deadline and not os.path.exists(p):
            time.sleep(0.25)
        assert os.path.exists(p), f"batch {batch_id} never committed"

    try:
        _write([("convA", 0, RETRY_TXT, 0, "user")], os.path.join(in_dir, "f1.parquet"))
        _await_commit(0)
        time.sleep(2)  # >> TTL: 'user' timer expires
        # f2 hosts the eviction (timers fire for keys WITHOUT data in the
        # batch) and starts the 'tool' counter
        _write([("convB", 0, RETRY_TXT, 5, "tool")], os.path.join(in_dir, "f2.parquet"))
        _await_commit(1)
        # f3: convA resumes within the (evicted) 900s window; convC's tool
        # row is the sentinel — 2nd 'tool' event, must emit
        _write(
            [
                ("convA", 1, RETRY_TXT, 10, "user"),
                ("convC", 0, RETRY_TXT, 20, "tool"),
            ],
            os.path.join(in_dir, "f3.parquet"),
        )
        fired = set()
        while time.time() < deadline:
            fired = _fired(spark, out, 4000002)
            if ("convC", 0) in fired:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert ("convC", 0) in fired, "sentinel never fired — stream did not process f3"
    assert ("convA", 1) not in fired, "role-track state survived past TTL"
